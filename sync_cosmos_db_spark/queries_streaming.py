"""Streaming-domain queries: the change-log compaction and rate-limit
state machines (``streaming/stateful.py``) against their batch replays.

Change-log compaction: a deterministic I/U/D log derived from
``orders`` (:func:`build_cdc_changes`) is applied to the snapshot with
last-writer-wins, in batch (X53 ``cdc_apply_orders``, and X222
``state_asof_orders_seq2``, the replay up to seq 2) and through a real
4-micro-batch stream in each engine (X156: live state store, TWS,
``foreachBatch`` merge).  Every form answers to one oracle, the SQL
replay of the same log.

Rate limiting: admit the first 5 events per (user, hour) in
(ts, event_id) order, as one batch ``row_number`` window (X131
``rate_limit_hourly``) and through a 4-micro-batch event-time-ordered
replay in each engine (X160).  All four answer to one oracle.

The streams replay files with ``maxFilesPerTrigger=1``, so the events
of one key genuinely arrive in different micro-batches and the state
(or the keys-sized merge table) must carry them across.

Events-stream operators: the ``events`` table read as a file-source
stream (``windows.read_events_stream`` on ``events.parquet``) through
a stateful running total (X7), a within-watermark dedup, inner and
left-outer interval joins (X60), a stream-static enrichment and hourly
OHLC bars (X110), each run to completion into a memory sink and
checked against the batch SQL of the same computation.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_tempdir
from sync_cosmos_db_spark.queries import fround, query
from sync_cosmos_db_spark.session import load_table
from sync_cosmos_db_spark.streaming import windows as SW


# ---------------------------------------------------------------------------
# Shared replay plumbing
# ---------------------------------------------------------------------------

def _file_stream(spark: SparkSession, schema, path: str) -> DataFrame:
    """Replay the parquet files under ``path`` one per micro-batch."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


def _to_memory(spark: SparkSession, stream: DataFrame,
               mode: str = "update") -> DataFrame:
    """Every ``mode`` emission of ``stream``, run to completion."""
    return SW.run_stream_to_memory(spark, stream,
                                   f"stream_mem_{uuid.uuid4().hex[:8]}",
                                   mode=mode)


# ---------------------------------------------------------------------------
# Change-log compaction (X53, X156, X222)
# ---------------------------------------------------------------------------

def _cdc_oracle(where: str = "") -> str:
    """The SQL replay of :func:`build_cdc_changes` applied to
    ``orders``; ``where`` filters the log before the collapse."""
    return f"""
    WITH snap AS (SELECT o_orderkey AS k, o_totalprice AS p,
                         o_orderstatus AS s FROM orders),
    ch AS (
      SELECT k, p * 1.1 AS p, s, 1 AS seq, 'U' AS op
      FROM snap WHERE k % 7 = 0
      UNION ALL
      SELECT k, p + 55.5, s, 3, 'U' FROM snap WHERE k % 7 = 0
      UNION ALL
      SELECT k, p, s, 2, 'D' FROM snap WHERE k % 11 = 0
      UNION ALL
      SELECT -k, p / 2, 'N', 1, 'U' FROM snap WHERE k % 13 = 0),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY k
                                   ORDER BY seq DESC, op ASC) AS rn
      FROM ch {where}),
    l AS (SELECT * FROM latest WHERE rn = 1)
    SELECT coalesce(l.k, snap.k) AS o_orderkey,
           floor((CASE WHEN l.k IS NOT NULL THEN l.p ELSE snap.p END)
                 * 100 + 0.5) / 100 AS o_totalprice,
           CASE WHEN l.k IS NOT NULL THEN l.s ELSE snap.s END
             AS o_orderstatus
    FROM snap FULL JOIN l ON snap.k = l.k
    WHERE l.op IS NULL OR l.op <> 'D'
    """


_CDC_ORACLE = _cdc_oracle()


def _orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")


def build_cdc_changes(snap: DataFrame) -> DataFrame:
    """The deterministic I/U/D change log every compaction query
    replays: mod-7 keys get two competing upserts at seq 1 and 3,
    mod-11 keys a tombstone at seq 2, mod-13 keys an insert under a
    fresh negative key.

    One pass over the snapshot: each row emits its 0–3 events through
    an in-row array, a null filter and an explode (a 4-branch union
    would scan the snapshot once per branch).  Event order is
    irrelevant: every consumer repartitions, and the
    (seq DESC, op ASC) collapse is an order-independent fold."""
    from sync_cosmos_db_spark.operators.partitioning import spread

    k, p, s = (F.col("o_orderkey"), F.col("o_totalprice"),
               F.col("o_orderstatus"))

    def ev(cond, key, price, status, seq, op):
        return F.when(cond, F.struct(
            key.alias("o_orderkey"),
            price.alias("o_totalprice"),
            status.alias("o_orderstatus"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op")))

    events = F.array(
        ev(k % 7 == 0, k, p * 1.1, s, 1, "U"),
        ev(k % 7 == 0, k, p + 55.5, s, 3, "U"),
        ev(k % 11 == 0, k, p, s, 2, "D"),
        ev(k % 13 == 0, -k, p / 2, F.lit("N"), 1, "U"))
    # spread() so the conditional emit parallelizes off a compact
    # single-split scan
    return (spread(snap)
            .select(F.explode(F.filter(
                events, lambda x: x.isNotNull())).alias("__ev"))
            .select("__ev.*"))


def _cdc_result(snap: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a change log (raw, emitted or compacted: the apply
    collapses it) to the snapshot, prices rounded to cents."""
    from sync_cosmos_db_spark.operators.cdc import apply_changelog

    out = apply_changelog(snap, changes, ["o_orderkey"], "seq")
    return out.select("o_orderkey",
                      fround("o_totalprice", 2).alias("o_totalprice"),
                      "o_orderstatus")


def _cdc_replay(spark: SparkSession, sf_dir: str):
    """``(snapshot, change-log stream, work dir)``: the change log
    written as 4 files and replayed one file per micro-batch."""
    snap = _orders_snapshot(spark, sf_dir)
    changes = build_cdc_changes(snap)
    work = scoped_tempdir("cdc_stream_")
    feed = os.path.join(work, "feed")
    changes.repartition(4).write.parquet(feed)
    return snap, _file_stream(spark, changes.schema, feed), work


@query("cdc_apply_orders", _CDC_ORACLE)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 — change-feed replay (``operators/cdc.py``): the change log
    applied to the snapshot with last-writer-wins in one collapse
    window and one full outer join.  Mod-77 keys get the seq-3 update
    over the seq-2 tombstone, proving the collapse order.  The
    reference's per-document sync loop is the row-at-a-time form of
    this join."""
    snap = _orders_snapshot(spark, sf_dir)
    return _cdc_result(snap, build_cdc_changes(snap))


@query("state_asof_orders_seq2", _cdc_oracle("WHERE seq <= 2"))
def state_asof_orders_seq2(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X222 — point-in-time reconstruction: the change log replayed
    only up to seq 2.  Mod-7 keys show their seq-1 price (the seq-3
    update has not happened yet), mod-11 tombstones already apply and
    the inserts exist.  Time travel is change-log replay with a
    cutoff."""
    snap = _orders_snapshot(spark, sf_dir)
    return _cdc_result(
        snap, build_cdc_changes(snap).filter(F.col("seq") <= 2))


@query("stream_cdc_apply_orders", _CDC_ORACLE)
def stream_cdc_apply_orders(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X156 — streaming change-log compaction, live state-store engine
    (``stateful.changelog_compact_stream``), merged into the snapshot.
    The state store's own aggregate keeps the per-key winner in the
    JVM, one min over a struct that orders as the collapse does, so no
    row crosses into Python.  The stream keeps a keys-sized compacted
    log, so the merge never re-reads the feed."""
    from sync_cosmos_db_spark.streaming.stateful import (
        changelog_compact_stream,
    )

    snap, stream, _ = _cdc_replay(spark, sf_dir)
    return _cdc_result(snap,
                       _to_memory(spark, changelog_compact_stream(stream)))


@query("stream_cdc_apply_orders_batchmerge", _CDC_ORACLE)
def stream_cdc_apply_orders_batchmerge(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """X156 scale form — the ``foreachBatch`` engine
    (``stateful.run_changelog_compaction``): each micro-batch is one
    JVM collapse merged with a keys-sized compacted version, zero
    per-key Python dispatch."""
    from sync_cosmos_db_spark.streaming.stateful import (
        run_changelog_compaction,
    )

    snap, stream, work = _cdc_replay(spark, sf_dir)
    compacted = run_changelog_compaction(
        stream, os.path.join(work, "state"), ["o_orderkey"], "seq")
    return _cdc_result(snap, compacted)


@query("stream_cdc_apply_orders_tws", _CDC_ORACLE)
def stream_cdc_apply_orders_tws(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X156 on Spark 4's ``transformWithStateInPandas``
    (``stateful.changelog_compact_stream_tws``), under the RocksDB
    state store: the per-key Python fold of the collapse order."""
    from sync_cosmos_db_spark.streaming.stateful import (
        changelog_compact_stream_tws,
        rocksdb_state_store,
    )

    snap, stream, _ = _cdc_replay(spark, sf_dir)
    with rocksdb_state_store(spark):
        emitted = _to_memory(spark, changelog_compact_stream_tws(stream))
    return _cdc_result(snap, emitted)


# ---------------------------------------------------------------------------
# Rate limiting (X131, X160)
# ---------------------------------------------------------------------------

_RL_ORACLE = """
    WITH rn AS (
      SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT
               AS window_start,
             row_number() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
               ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT window_start, count(*)::BIGINT AS n_events,
           sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END)::BIGINT
             AS n_admitted,
           sum(CASE WHEN rn > 5 THEN 1 ELSE 0 END)::BIGINT
             AS n_dropped
    FROM rn GROUP BY 1
    """


def _events_replay(spark: SparkSession, sf_dir: str):
    """``(events stream, work dir)``: ``events`` written as 4 slices in
    (ts, event_id) order with increasing mtimes and replayed one slice
    per micro-batch, so a user-hour spanning a slice boundary tests the
    carried counter."""
    from sync_cosmos_db_spark.streaming.windows import (
        write_event_time_slices,
    )

    ev = load_table(spark, sf_dir, "events")
    work = scoped_tempdir("rl_stream_")
    feed = os.path.join(work, "feed")
    write_event_time_slices(ev, feed, n_slices=4)
    return _file_stream(spark, ev.schema, feed), work


@query("rate_limit_hourly", _RL_ORACLE)
def rate_limit_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131 — deterministic per-key rate limiting: admit the first 5
    events per (user, hour) in (ts, event_id) order, drop the rest —
    the batch replay of an API throttle.  One (user, hour)-keyed
    ``row_number`` window (partitions stay user-hour-sized even for a
    globally hot user), one hour-keyed reduce."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy("user_id", hour).orderBy("ts", "event_id")
    admitted = (F.row_number().over(w) <= 5).cast("long")
    return (ev.withColumn("adm", admitted)
            .groupBy(F.unix_timestamp(hour).alias("window_start"))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("adm").cast("long").alias("n_admitted"),
                 (F.count("*") - F.sum("adm")).cast("long")
                 .alias("n_dropped")))


@query("stream_rate_limit_hourly", _RL_ORACLE)
def stream_rate_limit_hourly(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X160 — streaming per-key rate limiter, live state-store engine
    (``stateful.rate_limit_stream``): the admission counters per
    (user, hour) persist across micro-batches, and the per-batch
    partials are summed per window."""
    from sync_cosmos_db_spark.streaming.stateful import (
        rate_limit_stream,
        rate_limit_window_totals,
    )

    stream, _ = _events_replay(spark, sf_dir)
    return rate_limit_window_totals(
        _to_memory(spark, rate_limit_stream(stream, limit=5)))


@query("stream_rate_limit_hourly_batchmerge", _RL_ORACLE)
def stream_rate_limit_hourly_batchmerge(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """X160 scale form — the ``foreachBatch`` engine
    (``stateful.run_rate_limit_batchmerge``): each micro-batch is one
    row per (user, hour) merged with a keys-sized counter table, zero
    per-key Python dispatch."""
    from sync_cosmos_db_spark.streaming.stateful import (
        run_rate_limit_batchmerge,
    )

    stream, work = _events_replay(spark, sf_dir)
    return run_rate_limit_batchmerge(stream, os.path.join(work, "state"),
                                     limit=5)


@query("stream_rate_limit_hourly_tws", _RL_ORACLE)
def stream_rate_limit_hourly_tws(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X160 on Spark 4's ``transformWithStateInPandas``
    (``stateful.rate_limit_stream_tws``), under the RocksDB state
    store."""
    from sync_cosmos_db_spark.streaming.stateful import (
        rate_limit_stream_tws,
        rate_limit_window_totals,
        rocksdb_state_store,
    )

    stream, _ = _events_replay(spark, sf_dir)
    with rocksdb_state_store(spark):
        emitted = _to_memory(spark, rate_limit_stream_tws(stream, limit=5))
    return rate_limit_window_totals(emitted)


# ---------------------------------------------------------------------------
# Events-stream operators (X7, X60, X110)
# ---------------------------------------------------------------------------

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table, and only it, as a file-source stream."""
    return SW.read_events_stream(spark, f"{sf_dir}/events.parquet")


def _purchases_clicks(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(purchases, clicks)``: the two sides of the attribution
    interval joins."""
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"), "user_id"))
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("ts").alias("c_ts"), "user_id"))
    return purchases, clicks


@query(
    "stream_stateful_user_totals",
    """
    SELECT user_id, count(*) AS n_events,
           sum(floor(value * 100 + 0.5)::BIGINT) / 100.0 AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: stateful streaming operator — per-user running totals as
    one state-store aggregate (a count and a sum of integer cents) in
    update mode.  The LAST emission per key is the final state, which
    must equal the batch aggregate the oracle computes."""
    from sync_cosmos_db_spark.streaming.stateful import running_user_totals

    mem = _to_memory(spark, running_user_totals(_events_stream(spark, sf_dir)))
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (mem.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "n_events",
                    fround("sum_value", 2).alias("sum_value")))


@query(
    "stream_dedup_events",
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/X1: streaming exact dedup — the events stream UNIONED WITH
    ITSELF (every row arrives twice) flows through
    ``dropDuplicatesWithinWatermark`` keyed on event_id; the output must
    be exactly the original table, which the oracle reads directly.
    Duplicate copies are identical rows, so the emitted set is
    deterministic regardless of which copy wins the state race."""
    src = _events_stream(spark, sf_dir)
    deduped = SW.dedup_stream(src.unionByName(src)).select(
        "event_id", "user_id", "event_type", "value")
    return _to_memory(spark, deduped, "append")


@query(
    "stream_interval_join_attribution",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS lag_us
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts
    """,
)
def stream_interval_join_attribution(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """X7/A1: stream-stream interval join in append mode: every
    purchase joins the same user's clicks from the preceding hour —
    the attribution pipeline shape. Watermarks on both sides plus the
    two-sided time bound give Spark evictable join state (bounded by
    the lookback + watermark horizon, not the stream length). The
    oracle recomputes the join in batch SQL; results must match
    exactly."""
    purchases, clicks = _purchases_clicks(_events_stream(spark, sf_dir))
    joined = SW.interval_join_stream(
        purchases, clicks, key="user_id",
        left_ts="p_ts", right_ts="c_ts", lookback="1 hour")
    out = joined.select(
        "purchase_id", "click_id", "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts"))
        .cast("bigint").alias("lag_us"))
    return _to_memory(spark, out, "append")


@query(
    "stream_interval_left_outer",
    """
    WITH p AS (SELECT event_id AS purchase_id, ts AS p_ts, user_id
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, ts AS c_ts, user_id
          FROM events WHERE event_type = 'click'),
    m AS (SELECT max(ts) AS mx FROM events)
    SELECT p.purchase_id, p.user_id, c.click_id,
           c.click_id IS NOT NULL AS matched
    FROM p
    LEFT JOIN c ON c.user_id = p.user_id
               AND c.c_ts BETWEEN p.p_ts - INTERVAL '1 hour' AND p.p_ts
    WHERE p.p_ts <= (SELECT mx FROM m) - INTERVAL '2 hours'
    """,
)
def stream_interval_left_outer(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X60 — stream-stream LEFT OUTER interval join: purchases with no
    click in the preceding hour survive with NULL click — the
    "unattributed conversions" shape an inner join silently drops.
    Outer rows only emit once the watermark proves no match can arrive,
    so both sides restrict to purchases at least 2 h older than the
    stream's final event (watermark 30 min + lookback 1 h + margin) —
    inside that region streaming output equals the batch left join
    EXACTLY, and the oracle hash-checks it."""
    purchases, clicks = _purchases_clicks(_events_stream(spark, sf_dir))
    joined = SW.interval_join_stream(
        purchases, clicks, key="user_id",
        left_ts="p_ts", right_ts="c_ts", lookback="1 hour",
        watermark="30 minutes", how="left_outer")
    streamed = _to_memory(
        spark, joined.select("purchase_id", "user_id", "click_id",
                             F.col("click_id").isNotNull().alias("matched"),
                             "p_ts"), "append")
    mx = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    return (streamed
            .filter(F.col("p_ts") <= F.lit(mx) - F.expr("INTERVAL 2 hours"))
            .drop("p_ts"))


@query(
    "stream_enrich_segment",
    """
    SELECT c.c_mktsegment AS segment, count(*)::BIGINT AS n_events,
           sum(floor(e.value * 100 + 0.5)::BIGINT) / 100.0 AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (``windows.enrich_stream``): the events
    STREAM left-joins the broadcast customer dimension per micro-batch
    (stateless, no stream shuffle), then aggregates per market segment
    in complete mode; the oracle recomputes the join + aggregate in
    batch SQL."""
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(F.col("c_custkey").alias("user_id"),
                      F.col("c_mktsegment").alias("segment"))
    enriched = SW.enrich_stream(_events_stream(spark, sf_dir), dim,
                                "user_id")
    agg = (enriched.groupBy("segment")
           .agg(F.count("*").cast("long").alias("n_events"),
                (F.sum(F.floor(F.col("value") * 100
                               + F.lit(0.5)).cast("long")) / 100.0)
                .alias("sum_value")))
    return _to_memory(spark, agg, "complete")


@query(
    "stream_ohlc_hourly",
    """
    WITH b AS (
      SELECT event_type,
             epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT
               AS window_start,
             value, {'t': ts, 'v': value} AS tv
      FROM events)
    SELECT window_start, event_type, count(*)::BIGINT AS n,
           floor((min(tv)).v * 10000 + 0.5) / 10000 AS open,
           floor(max(value) * 10000 + 0.5) / 10000 AS high,
           floor(min(value) * 10000 + 0.5) / 10000 AS low,
           floor((max(tv)).v * 10000 + 0.5) / 10000 AS close
    FROM b GROUP BY window_start, event_type
    """,
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110 — streaming OHLC (``windows.ohlc_stream``): hourly bars per
    event_type; min/max over a (ts, value) struct is an ordinary
    mergeable aggregate, so per-bar state is constant and the watermark
    bounds open bars.  With the full table replayed and complete
    output, the bars must equal the batch computation — the oracle —
    exactly."""
    bars = _to_memory(spark, SW.ohlc_stream(_events_stream(spark, sf_dir),
                                            "1 hour"), "complete")
    return bars.select("window_start", "event_type", "n",
                       *(fround(c, 4).alias(c)
                         for c in ("open", "high", "low", "close")))
