"""Per-key streaming state machines (X7, X156, X160).

Two machines carry state across micro-batches, each in three engines
with identical semantics:

* **change-log compaction** (X156) — per key, the winning event under
  the (seq DESC, op ASC) collapse order of
  ``operators/cdc.collapse_changelog``: higher sequence wins, and at
  equal sequence a tombstone beats an upsert;
* **rate limiting** (X160) — admit the first ``limit`` events per
  (user, hour), the live twin of the batch ``row_number`` replay
  (X131).

The engines:

* **live** — ``applyInPandasWithState``, one flat state row per key;
* **TWS** — Spark 4 ``transformWithStateInPandas`` with a typed
  ``ValueState``, gated by :func:`transform_with_state_available` and
  run under :func:`rocksdb_state_store`;
* **batch merge** — ``foreachBatch`` over a keys-sized parquet table
  with zero per-key Python dispatch: the scale path.

The live and TWS forms of a machine call the same per-key step
``step(key, prev_state_or_None, chunks) -> (state, out_pdf)``; the
batch-merge forms share one versioned ``foreachBatch`` body and one
``availableNow`` runner.  This module ships itself by value, so Python
workers never import the package.  ``running_user_totals`` is a third,
single-engine machine: running (count, sum) per user.

Scale: state lives in the state store partitioned by the grouping key,
so the shuffle is on that key only and state is O(distinct keys).  The
live and TWS engines cross the Python boundary once per key per batch
(~20k keys/s/batch); past bounded active-key sets, use the batch-merge
forms (SCALING.md).
"""

from __future__ import annotations

import contextlib
import functools
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from sync_cosmos_db_spark.operators.cdc import collapse_changelog
from sync_cosmos_db_spark.protobuf_shim import (
    install_protobuf_alias,
    rebuild_tws_processor,
)
from sync_cosmos_db_spark.session import register_pickle_by_value
from sync_cosmos_db_spark.sources import catalog
from sync_cosmos_db_spark.streaming.windows import (
    DEFAULT_WATERMARK,
    run_foreach_batch,
)

_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                     "state.RocksDBStateStoreProvider")


# ---------------------------------------------------------------------------
# Engines
# ---------------------------------------------------------------------------

def _with_state(grouped, step, out_schema: str,
                state_schema: str) -> DataFrame:
    """Live engine: ``applyInPandasWithState`` in update mode, so each
    micro-batch emits one row per key it touched."""

    def update(key, pdfs, state):
        new, out = step(key, state.get if state.exists else None, pdfs)
        state.update(new)
        yield out

    return grouped.applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def transform_with_state_available() -> bool:
    """Whether Spark 4's ``transformWithStateInPandas`` can run here.
    Its Python↔JVM state server speaks protobuf; when no
    ``google.protobuf`` is installed,
    ``protobuf_shim.install_protobuf_alias`` aliases a bundled
    pure-Python runtime (see that module for the version-skew
    argument).  Worker processes get the alias through the processors'
    ``__reduce__`` hook, which runs before the API client's first lazy
    proto import."""
    if not install_protobuf_alias():
        return False
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except Exception:
        return False
    return True


def _transform_with_state(grouped, step, out_schema: str, state_name: str,
                          state_schema: str) -> DataFrame:
    """TWS engine: the same ``step`` over a typed ``ValueState``.
    Raises ``RuntimeError`` when :func:`transform_with_state_available`
    is false.  The query must start under
    :func:`rocksdb_state_store`."""
    if not transform_with_state_available():
        raise RuntimeError(
            "transformWithStateInPandas unavailable: no usable protobuf "
            "runtime found (see transform_with_state_available)")

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class StepProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(state_name, state_schema)

        def handleInputRows(self, key, rows, timerValues):
            # get() returns None for a new key, so no exists() round
            # trip to the state server
            new, out = step(key, self._state.get(), rows)
            self._state.update(new)
            yield out

        def close(self) -> None:
            pass

        def __reduce__(self):
            # install the protobuf alias in every unpickling process
            # (the PRE_INIT driver worker and the executor workers)
            # before the API client's first lazy StateMessage_pb2 import
            return (rebuild_tws_processor,
                    (type(self), dict(self.__dict__)))

    return grouped.transformWithStateInPandas(
        StepProcessor(), out_schema, "Update", "None")


@contextlib.contextmanager
def rocksdb_state_store(spark):
    """Start the enclosed streaming queries under the RocksDB state
    store provider (TWS needs its column families), then restore the
    session's previous provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _versioned_step(state_dir: str, versions: dict[int, str], merge):
    """The ``foreachBatch`` body of both batch-merge forms:
    ``merge(batch_df, prev)`` gets the version written before this
    batch (``None`` for the first) and its result is written as this
    batch's version.

    ``versions`` is keyed by batch_id because Structured Streaming
    retries a failed micro-batch under the same batch_id.  The retry
    must merge against the last version BEFORE its batch: a latest
    pointer would hand it its own partial output, lazily reading the
    path the overwrite is about to replace, and a list append would
    count the batch twice."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        prior = [versions[b] for b in sorted(versions) if b < batch_id]
        prev = (catalog.read_parquet(batch_df.sparkSession, prior[-1])
                if prior else None)
        out = os.path.join(state_dir, f"v{batch_id:020d}")
        merge(batch_df, prev).write.mode("overwrite").parquet(out)
        versions[batch_id] = out

    return step


def _run_versions(stream: DataFrame, state_dir: str,
                  make_step) -> list[str]:
    """Run ``make_step(versions)`` over every micro-batch the source
    holds now; return the written version paths in batch order.
    Raises ``RuntimeError`` if the source produced no micro-batch."""
    versions: dict[int, str] = {}
    run_foreach_batch(stream, make_step(versions),
                      os.path.join(state_dir, "_ckpt"))
    if not versions:
        raise RuntimeError(
            f"stream produced no micro-batches (state dir {state_dir}): "
            "the source holds no data")
    return [versions[b] for b in sorted(versions)]


# ---------------------------------------------------------------------------
# Change-log compaction (X156)
# ---------------------------------------------------------------------------

_CDC_OUT_SCHEMA = ("o_orderkey bigint, o_totalprice double, "
                   "o_orderstatus string, seq bigint, op string")
_CDC_STATE_SCHEMA = ("seq bigint, op string, price double, "
                     "status string")


def _cdc_step(key, prev, chunks):
    """Fold one key's events onto its previous winner, row by row under
    (seq DESC, op ASC).  The order is total, so the row fold equals
    taking each chunk's winner first; per-key groups are a handful of
    rows, where ``tolist()`` and a Python fold beat a pandas sort
    (~25 us vs ~555 us per key)."""
    seq, op, price, status = prev if prev is not None else (None,) * 4
    for pdf in chunks:
        for r_seq, r_op, r_price, r_status in zip(
                pdf["seq"].tolist(), pdf["op"].tolist(),
                pdf["o_totalprice"].tolist(),
                pdf["o_orderstatus"].tolist()):
            if seq is None or r_seq > seq or (r_seq == seq and r_op < op):
                seq, op = int(r_seq), str(r_op)
                price, status = float(r_price), str(r_status)
    return (seq, op, price, status), pd.DataFrame({
        "o_orderkey": [key[0]], "o_totalprice": [price],
        "o_orderstatus": [status], "seq": [seq], "op": [op]})


def changelog_compact_stream(changes: DataFrame) -> DataFrame:
    """Streaming change-log compaction, live engine: per key, the
    winning event so far, the continuous form of
    ``cdc.collapse_changelog``.  A change-feed consumer keeps this
    keys-sized log so the periodic snapshot merge never replays the
    feed.

    Update mode re-emits a key's winner whenever a batch touches it.
    Emissions are monotone under the collapse order, so the last
    emission per key is the final winner and one more collapse over
    the emitted table (``cdc.apply_changelog`` does it) finishes the
    job.  ``changes`` must carry ``(o_orderkey, o_totalprice,
    o_orderstatus, seq, op)``."""
    return _with_state(changes.groupBy("o_orderkey"), _cdc_step,
                       _CDC_OUT_SCHEMA, _CDC_STATE_SCHEMA)


def changelog_compact_stream_tws(changes: DataFrame) -> DataFrame:
    """:func:`changelog_compact_stream` on the TWS engine: same step,
    same output schema and emissions."""
    return _transform_with_state(changes.groupBy("o_orderkey"), _cdc_step,
                                 _CDC_OUT_SCHEMA, "winner",
                                 _CDC_STATE_SCHEMA)


def make_compaction_merge_batch(state_dir: str, keys: list[str],
                                seq_col: str, op_col: str,
                                versions: dict[int, str]):
    """The ``foreachBatch`` body of :func:`run_changelog_compaction`:
    collapse the batch, then collapse it again with the previous
    compacted version.  Calling it twice with one ``batch_id`` (a
    micro-batch retry) leaves ``versions`` and the final state as one
    call does."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        compact = collapse_changelog(batch_df, keys, seq_col, op_col)
        if prev is None:
            return compact
        return collapse_changelog(prev.unionByName(compact), keys,
                                  seq_col, op_col)

    return _versioned_step(state_dir, versions, merge)


def run_changelog_compaction(changes: DataFrame, state_dir: str,
                             keys: list[str], seq_col: str,
                             op_col: str = "op") -> DataFrame:
    """Change-log compaction, batch-merge engine: each micro-batch is
    collapsed by one JVM window, merged with the previous keys-sized
    compacted log and written as a new parquet version, which also
    truncates lineage.  Same winners as
    :func:`changelog_compact_stream` with zero per-key Python dispatch
    (7.7 s vs ~100 s live at 2M events / 200k keys; SCALING.md).  At
    pipeline cardinality the version is a bucketed table or a
    Delta/Iceberg MERGE target co-located on the key.  Returns the
    final compacted log, one row per surviving key; raises
    ``RuntimeError`` when the stream holds no data."""
    paths = _run_versions(
        changes, state_dir,
        lambda v: make_compaction_merge_batch(state_dir, keys, seq_col,
                                              op_col, v))
    return catalog.read_parquet(changes.sparkSession, paths[-1])


# ---------------------------------------------------------------------------
# Rate limiting (X160)
# ---------------------------------------------------------------------------

_RL_OUT_SCHEMA = ("user_id bigint, window_start bigint, "
                  "n_batch bigint, n_admitted_batch bigint")
_RL_STATE_SCHEMA = "n_seen bigint, n_admitted bigint"


def _window_start():
    return F.unix_timestamp(F.date_trunc("hour", F.col("ts")))


def _user_hours(events: DataFrame):
    # only the grouping keys cross into Python: the step reads group
    # sizes, and events carry a wide ``props`` JSON string
    return (events.select("user_id", _window_start().alias("__win"))
            .groupBy("user_id", "__win"))


def _rate_limit_step(key, prev, chunks, limit: int):
    """Admit up to ``limit - admitted_so_far`` of one (user, hour) key's
    batch events.  Admission counts depend only on group sizes, not on
    row order, so each chunk is one min/max."""
    n_seen, n_adm = prev if prev is not None else (0, 0)
    n_batch = adm_batch = 0
    for pdf in chunks:
        c = len(pdf)
        take = min(max(limit - n_adm, 0), c)
        n_seen += c
        n_batch += c
        n_adm += take
        adm_batch += take
    # all-int64 row: one 2-D ndarray constructor (53 us vs 109 us for
    # a dict of lists, once per key per batch)
    return (n_seen, n_adm), pd.DataFrame(
        np.array([[key[0], key[1], n_batch, adm_batch]], dtype="int64"),
        columns=["user_id", "window_start", "n_batch", "n_admitted_batch"])


def rate_limit_stream(events: DataFrame, limit: int = 5) -> DataFrame:
    """Streaming per-key rate limiter, live engine: admit the first
    ``limit`` events per (user, hour), with the counters carried across
    micro-batches in the state store.  Feeding batches in event-time
    order reproduces the batch ``row_number`` replay exactly.  Emits
    per-batch partials ``(user_id, window_start, n_batch,
    n_admitted_batch)``; :func:`rate_limit_window_totals` sums them."""
    return _with_state(_user_hours(events),
                       functools.partial(_rate_limit_step, limit=limit),
                       _RL_OUT_SCHEMA, _RL_STATE_SCHEMA)


def rate_limit_stream_tws(events: DataFrame, limit: int = 5) -> DataFrame:
    """:func:`rate_limit_stream` on the TWS engine: same step, same
    output schema and emissions."""
    return _transform_with_state(
        _user_hours(events),
        functools.partial(_rate_limit_step, limit=limit),
        _RL_OUT_SCHEMA, "counters", _RL_STATE_SCHEMA)


def rate_limit_window_totals(emissions: DataFrame) -> DataFrame:
    """Per-window admission totals ``(window_start, n_events,
    n_admitted, n_dropped)`` from the per-batch partials every
    rate-limit engine emits."""
    return (emissions.groupBy("window_start")
            .agg(F.sum("n_batch").cast("long").alias("n_events"),
                 F.sum("n_admitted_batch").cast("long")
                 .alias("n_admitted"),
                 (F.sum("n_batch") - F.sum("n_admitted_batch"))
                 .cast("long").alias("n_dropped")))


def make_rate_limit_merge_batch(state_dir: str, limit: int,
                                versions: dict[int, str]):
    """The ``foreachBatch`` body of :func:`run_rate_limit_batchmerge`:
    one row per (user, hour) key of the batch, full-outer-joined with
    the previous admitted-counter version.  Each version row carries
    that batch's partials (zero for keys it did not touch), so the sum
    over all versions is the per-window total.  Retry-safe like
    :func:`make_compaction_merge_batch`."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        keyed = (batch_df
                 .groupBy("user_id", _window_start().alias("window_start"))
                 .agg(F.count(F.lit(1)).alias("n_batch")))
        if prev is None:
            merged = keyed.withColumn("n_prev", F.lit(None).cast("long"))
        else:
            merged = keyed.join(
                prev.select("user_id", "window_start",
                            F.col("n_admitted_total").alias("n_prev")),
                ["user_id", "window_start"], "full_outer")
        return (merged
                .withColumn("n_batch", F.coalesce("n_batch", F.lit(0)))
                .withColumn("n_prev", F.coalesce("n_prev", F.lit(0)))
                .withColumn(
                    "n_admitted_batch",
                    F.least(F.greatest(F.lit(limit) - F.col("n_prev"),
                                       F.lit(0)),
                            F.col("n_batch")))
                .withColumn("n_admitted_total",
                            F.col("n_prev") + F.col("n_admitted_batch"))
                .select("user_id", "window_start", "n_batch",
                        "n_admitted_batch", "n_admitted_total"))

    return _versioned_step(state_dir, versions, merge)


def run_rate_limit_batchmerge(events_stream: DataFrame, state_dir: str,
                              limit: int = 5) -> DataFrame:
    """Per-key rate limiting, batch-merge engine: each micro-batch
    reduces to one row per (user, hour) in the JVM (map-side partial
    aggregation) and merges with the keys-sized counter table — one
    aggregate and one keys-sized join per batch, zero per-key Python
    dispatch (14.9× the live form at 2M events / 200k keys;
    SCALING.md).  Dormant windows would age out of the table with a
    watermark filter.  Returns :func:`rate_limit_window_totals`;
    raises ``RuntimeError`` when the stream holds no data."""
    paths = _run_versions(
        events_stream, state_dir,
        lambda v: make_rate_limit_merge_batch(state_dir, limit, v))
    spark = events_stream.sparkSession
    schema = catalog.read_parquet(spark, paths[-1]).schema
    return rate_limit_window_totals(spark.read.schema(schema).parquet(*paths))


# ---------------------------------------------------------------------------
# Running per-user totals (X7)
# ---------------------------------------------------------------------------

_OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
# The state sum is integer cents: per-group pandas float accumulation
# sums pairwise, in an association that differs from the batch
# oracle's; snapping each value to cents first makes the running sum
# exact.  The state schema is part of a streaming checkpoint, so a
# query restarted from a checkpoint whose ``s`` was a double sum fails
# (or misreads ``s`` by a factor of 100): start such queries from a
# fresh checkpoint location.
_STATE_SCHEMA = "n bigint, s bigint"


def _user_totals_step(key, prev, chunks):
    n, s = prev if prev is not None else (0, 0)
    for pdf in chunks:
        n += len(pdf)
        s += int(np.floor(pdf["value"].to_numpy() * 100
                          + 0.5).astype("int64").sum())
    return (n, s), pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                 "sum_value": [s / 100.0]})


def running_user_totals(events: DataFrame,
                        watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming per-user running (count, sum) with explicit state.
    Update mode: each micro-batch emits the keys it touched with their
    cumulative totals, so the final emission per key equals the batch
    ``groupBy(user).agg(count, sum)``."""
    # only the key, the watermark column and ``value`` cross into Python
    ev = (events.select("user_id", "ts", "value")
          .withWatermark("ts", watermark))
    return _with_state(ev.groupBy("user_id"), _user_totals_step,
                       _OUT_SCHEMA, _STATE_SCHEMA)


register_pickle_by_value(__name__)
register_pickle_by_value("sync_cosmos_db_spark.protobuf_shim")
