"""Structured Streaming parity tests (X7): the streaming forms must
produce the batch-mode results (same expressions, availableNow trigger,
memory sink)."""

from __future__ import annotations

import os

import pytest

from sync_cosmos_db_spark.session import load_table
from sync_cosmos_db_spark.streaming import windows as SW


def _rows(df, key_cols):
    return sorted(tuple(r[c] for c in key_cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir):
    batch = SW.tumbling_counts(load_table(spark, sf_dir, "events"))
    stream_src = SW.read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = SW.run_stream_to_memory(
        spark, SW.tumbling_counts_stream(stream_src), "tumbling_mem",
        mode="complete")
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(batch, cols) == _rows(streamed, cols)


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """State-store aggregate: final per-key emission == batch
    aggregate."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.streaming.stateful import running_user_totals

    src = SW.read_events_stream(spark, f"{sf_dir}/events.parquet")
    mem = SW.run_stream_to_memory(spark, running_user_totals(src),
                                  "stateful_parity_mem", mode="update")
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (mem.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
             .select("user_id", "n_events", "sum_value"))
    batch = (load_table(spark, sf_dir, "events").groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("value").alias("sum_value")))
    a = sorted((r.user_id, r.n_events, round(r.sum_value, 6))
               for r in final.collect())
    b = sorted((r.user_id, r.n_events, round(r.sum_value, 6))
               for r in batch.collect())
    assert a == b


def test_session_stream_emits_finalized_sessions(spark, sf_dir):
    """Append-mode session windows emit only watermark-finalized
    sessions — every emitted row must match the batch result exactly;
    rows inside the final watermark horizon may be withheld."""
    batch = SW.session_counts(load_table(spark, sf_dir, "events"))
    stream_src = SW.read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = SW.run_stream_to_memory(
        spark, SW.session_counts_stream(stream_src), "session_mem",
        mode="append")
    cols = ["session_start", "user_id", "n_events", "sum_value"]
    batch_rows = set(_rows(batch, cols))
    stream_rows = set(_rows(streamed, cols))
    assert stream_rows, "no finalized sessions emitted"
    assert stream_rows <= batch_rows
    # the watermark horizon is 10 minutes of a 30-day stream: nearly all
    # sessions must be finalized
    assert len(stream_rows) >= 0.95 * len(batch_rows)


def test_watermark_drops_late_data(spark, tmp_path):
    """An event arriving AFTER its window passed the watermark is
    dropped by the stream but counted by the batch form — the bounded-
    state trade documented in streaming/windows.py. Two source files
    processed as separate micro-batches (maxFilesPerTrigger=1): file 1
    advances the watermark past the late event's window, file 2
    delivers the late event."""
    from pyspark.sql import functions as F

    d = tmp_path / "late_events"
    d.mkdir()
    schema = ("event_id bigint, ts bigint, user_id bigint, "
              "event_type string, value double, props string")

    def rows_df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts_ns", (F.col("ts") * 1_000_000_000).cast("long"))

    base = 3_600 * 24 * 365 * 54  # ~2024, epoch seconds
    on_time = [(i, base + 7200 + i * 60, 1, "click", 1.0, "{}")
               for i in range(20)]                        # 02:00-02:19
    late = [(99, base + 0, 1, "click", 1.0, "{}")]        # 00:00 — late
    rows_df(on_time).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props").coalesce(1).write.parquet(str(d / "f1.parquet"))
    rows_df(late).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props").coalesce(1).write.parquet(str(d / "f2.parquet"))

    src_schema = schema
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        raw = (spark.readStream.schema(src_schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(d)))
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    stream = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    agg = SW.tumbling_counts_stream(stream, "1 hour", watermark="10 minutes")
    out = SW.run_stream_to_memory(spark, agg, "late_mem", mode="append")
    streamed_windows = {r.window_start for r in out.collect()}

    batch_df = spark.createDataFrame(
        [(i, base + 7200 + i * 60, 1, "click", 1.0, "{}")
         for i in range(20)] + [(99, base, 1, "click", 1.0, "{}")],
        schema).withColumn("ts", F.timestamp_seconds("ts"))
    batch_windows = {r.window_start
                     for r in SW.tumbling_counts(batch_df, "1 hour").collect()}

    late_window = base  # 00:00 hour bucket
    assert late_window in batch_windows         # batch counts it
    assert late_window not in streamed_windows  # stream dropped it


def test_dedup_stream_drops_in_flight_duplicates(spark, tmp_path):
    """Doubled input through dropDuplicatesWithinWatermark keyed on
    event_id must emit each key exactly once; state is watermark-bounded
    (the API contract — asserted by the query plan containing the
    within-watermark dedup operator, not plain dropDuplicates)."""
    import pandas as pd

    d = tmp_path / "src"
    d.mkdir()
    base = 1_700_000_000
    pdf = pd.DataFrame({
        "event_id": list(range(50)),
        "ts": [(base + i * 60) * 1_000_000_000 for i in range(50)],
        "user_id": [i % 5 for i in range(50)],
        "event_type": ["click"] * 50,
        "value": [float(i) for i in range(50)],
        "props": ["{}"] * 50,
    })
    pdf.to_parquet(str(d / "events.parquet"))

    src = SW.read_events_stream(spark, str(d))
    doubled = src.unionByName(src)
    deduped = SW.dedup_stream(doubled, ["event_id"], watermark="10 minutes")
    assert "WithinWatermark" in deduped._jdf.queryExecution().analyzed() \
        .toString(), "must be the state-bounded dedup, not dropDuplicates"
    out = SW.run_stream_to_memory(
        spark, deduped.select("event_id", "value"), "dedup_test_mem",
        mode="append")
    rows = out.collect()
    assert len(rows) == 50
    assert {r.event_id for r in rows} == set(range(50))


def test_interval_join_stream_matches_batch(spark, sf_dir):
    """Stream-stream interval join == the identical batch join, and
    every emitted pair respects the [ts - lookback, ts] bound."""
    from pyspark.sql import functions as F

    def shape(src):
        purchases = (src.filter(F.col("event_type") == "purchase")
                     .select(F.col("event_id").alias("purchase_id"),
                             F.col("ts").alias("p_ts"), "user_id"))
        clicks = (src.filter(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("ts").alias("c_ts"), "user_id"))
        return SW.interval_join_stream(purchases, clicks, key="user_id",
                                       left_ts="p_ts", right_ts="c_ts",
                                       lookback="1 hour")

    streamed = SW.run_stream_to_memory(
        spark,
        shape(SW.read_events_stream(spark, f"{sf_dir}/events.parquet")),
        "ivj_parity_mem", mode="append")
    batch = shape(load_table(spark, sf_dir, "events"))

    cols = ["purchase_id", "click_id", "user_id"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() > 0  # the fixture data has real matches
    out_of_bound = streamed.filter(
        (F.col("c_ts") > F.col("p_ts"))
        | (F.col("c_ts") < F.col("p_ts") - F.expr("INTERVAL 1 hour")))
    assert out_of_bound.count() == 0


def test_enrich_stream_matches_batch_and_keeps_unmatched(
        spark, sf_dir):
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    # dimension deliberately missing user_ids >= 5 → those events
    # must survive with a NULL segment (left join, never drops)
    dim = (cust.filter(F.col("c_custkey") < 5)
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    batch = (ev.join(dim, "user_id", "left")
             .groupBy("segment").agg(F.count("*").alias("n")))
    src = SW.read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = SW.run_stream_to_memory(
        spark, SW.enrich_stream(src, dim, "user_id")
        .groupBy("segment").agg(F.count("*").alias("n")),
        "enrich_test_mem", mode="complete")
    a = {(r.segment, r.n) for r in batch.collect()}
    b = {(r.segment, r.n) for r in streamed.collect()}
    assert a == b
    assert any(seg is None for seg, _ in b)

def test_read_events_stream_sniff_raises_on_mixed_and_missing(
        spark, tmp_path):
    """Round-3 ADVICE: the ts-unit sniff must iterate past unreadable
    files, refuse mixed encodings, and refuse a ts-less directory —
    never silently default to micros."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    # directory with no ts field at all -> raise
    d1 = tmp_path / "no_ts"
    d1.mkdir()
    pd.DataFrame({"x": [1, 2]}).to_parquet(str(d1 / "a.parquet"))
    with pytest.raises(ValueError, match="readable 'ts'"):
        SW.read_events_stream(spark, str(d1))

    # mixed encodings (us in one file, ns-int64 in another) -> raise
    d2 = tmp_path / "mixed"
    d2.mkdir()
    ts = pd.to_datetime(["2024-01-01 00:00:00"])
    pq.write_table(pa.table({"event_id": [1], "ts": ts.astype("datetime64[us]")}),
                   str(d2 / "a.parquet"))
    pq.write_table(pa.table({"event_id": [2],
                             "ts": np.array([10**18], dtype="int64")}),
                   str(d2 / "b.parquet"))
    with pytest.raises(ValueError, match="mixed ts encodings"):
        SW.read_events_stream(spark, str(d2))


def test_read_events_stream_file_reads_only_that_file(spark, tmp_path):
    """A parquet file path streams that file alone, even when the
    directory holds another table with a ``ts`` column (Spark's file
    stream takes only directories: ``basePath must be a directory``)."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": [base + pd.Timedelta(minutes=i) for i in range(3)],
        "user_id": [7, 8, 9],
        "event_type": ["click"] * 3,
        "value": [1.0, 2.0, 3.0],
        "props": ["{}"] * 3,
    }).to_parquet(str(tmp_path / "events.parquet"))
    pd.DataFrame({"o_orderkey": [10, 11], "ts": [base, base]}).to_parquet(
        str(tmp_path / "orders.parquet"))

    src = SW.read_events_stream(spark, f"{tmp_path}/events.parquet")
    out = SW.run_stream_to_memory(spark, src, "events_file_mem",
                                  mode="append")
    assert sorted((r.event_id, r.user_id, r.value)
                  for r in out.collect()) == [(1, 7, 1.0), (2, 8, 2.0),
                                              (3, 9, 3.0)]


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """Unmatched left rows emit with NULL right side once the watermark
    passes; `how` is validated."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    d = tmp_path / "ev"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    # the stream-stream watermark is the MIN across both sides, so
    # BOTH a late purchase and a late click are needed to advance it
    rows = {
        "event_id": [1, 2, 3, 100, 101],
        "ts": [base, base + pd.Timedelta("10 minutes"),
               base + pd.Timedelta("20 minutes"),
               base + pd.Timedelta("6 hours"),     # left watermark driver
               base + pd.Timedelta("6 hours")],    # right watermark driver
        "user_id": [7, 7, 8, 9, 10],
        "event_type": ["click", "purchase", "purchase", "purchase",
                       "click"],
        "value": [1.0] * 5,
        "props": ["{}"] * 5,
    }
    pd.DataFrame(rows).to_parquet(str(d / "events.parquet"))
    src = SW.read_events_stream(spark, str(d))
    p = (src.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("p_ts"), "user_id"))
    c = (src.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"),
                 F.col("ts").alias("c_ts"), "user_id"))
    with _pytest.raises(ValueError, match="left_outer"):
        SW.interval_join_stream(p, c, key="user_id", left_ts="p_ts",
                                right_ts="c_ts", how="full")
    out = SW.run_stream_to_memory(
        spark,
        SW.interval_join_stream(p, c, key="user_id", left_ts="p_ts",
                                right_ts="c_ts", lookback="1 hour",
                                watermark="10 minutes",
                                how="left_outer")
        .select("purchase_id", "click_id"),
        "ivj_outer_unit_mem", mode="append")
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    # purchase 2 (user 7) matches click 1; purchase 3 (user 8) has no
    # click and is far inside the final watermark -> NULL row emitted
    assert (2, 1) in got
    assert (3, None) in got


def test_rate_limit_batchmerge_carries_counters_across_batches(
        spark, tmp_path):
    """X160 scale form (round-7 verdict item 2): the foreachBatch
    counter merge must reproduce the live state-store semantics — a
    (user, hour) key whose admission budget is exhausted in batch 1
    admits nothing in batch 2, and a fresh key admits up to the limit
    regardless of batch position."""
    import pandas as pd

    from pyspark.sql import functions as F  # noqa: F401
    from sync_cosmos_db_spark.streaming.stateful import (
        run_rate_limit_batchmerge,
    )

    d = tmp_path / "rl_src"
    d.mkdir()
    base = pd.Timestamp("2024-03-01 10:00:00")
    # batch 1: user 1 sends 7 events in hour H (limit 5 -> admit 5),
    #          user 2 sends 2 (admit 2)
    b1 = pd.DataFrame({
        "event_id": range(9),
        "ts": [base + pd.Timedelta(seconds=i) for i in range(9)],
        "user_id": [1] * 7 + [2] * 2,
        "value": [1.0] * 9,
    })
    # batch 2: user 1 sends 4 more in the SAME hour (admit 0 — budget
    # spent), user 2 sends 4 (admit 3 -> total 5), user 3 sends 6 in a
    # NEW hour (admit 5)
    b2 = pd.DataFrame({
        "event_id": range(100, 114),
        "ts": ([base + pd.Timedelta(minutes=30, seconds=i)
                for i in range(8)]
               + [base + pd.Timedelta(hours=2, seconds=i)
                  for i in range(6)]),
        "user_id": [1] * 4 + [2] * 4 + [3] * 6,
        "value": [1.0] * 14,
    })
    for i, b in enumerate((b1, b2)):
        p = d / f"b{i}.parquet"
        b.assign(ts=b["ts"].astype("datetime64[us]")).to_parquet(str(p))
        os.utime(str(p), (1_000_000_000 + i * 1000,) * 2)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "value double")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = run_rate_limit_batchmerge(
        stream, str(tmp_path / "rl_state"), limit=5)
    got = {int(r.window_start): (r.n_events, r.n_admitted, r.n_dropped)
           for r in out.collect()}
    h0 = int(base.timestamp())
    h2 = int((base + pd.Timedelta(hours=2)).timestamp())
    # hour H: 7+2 (b1) + 4+4 (b2) = 17 events; admitted 5+2 (b1) +
    # 0+3 (b2) = 10
    assert got[h0] == (17, 10, 7)
    # hour H+2: 6 events, 5 admitted
    assert got[h2] == (6, 5, 1)


def test_rate_limit_tws_matches_live_form(spark, tmp_path):
    """Round-7 verdict item 7 — Spark 4 ``transformWithStateInPandas``
    behind a capability probe.  Since round 9 the probe PASSES in this
    sandbox (``protobuf_shim`` aliases the host Cloud SDK's public
    pure-Python protobuf runtime), so this runs the TWS rate limiter
    against the legacy ``applyInPandasWithState`` form and asserts
    identical per-window admission totals."""
    import pandas as pd
    import pytest as _pytest

    from pyspark.sql import functions as F
    from sync_cosmos_db_spark.streaming import stateful as ST

    if not ST.transform_with_state_available():
        _pytest.skip("transformWithStateInPandas unavailable: no usable "
                     "protobuf runtime in this environment")

    d = tmp_path / "tws_src"
    d.mkdir()
    base = pd.Timestamp("2024-03-01 10:00:00")
    b = pd.DataFrame({
        "event_id": range(12),
        "ts": [base + pd.Timedelta(seconds=i) for i in range(12)],
        "user_id": [1] * 8 + [2] * 4,
        "value": [1.0] * 12,
    })
    b.assign(ts=b["ts"].astype("datetime64[us]")).to_parquet(
        str(d / "b0.parquet"))
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "value double")

    def totals(make_stream_op, name):
        from sync_cosmos_db_spark.streaming.windows import (
            run_stream_to_memory,
        )
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(d)))
        out = run_stream_to_memory(spark, make_stream_op(stream),
                                   name, mode="update")
        return sorted(
            (int(r.user_id), int(r.window_start),
             int(r.n_batch), int(r.n_admitted_batch))
            for r in out.groupBy("user_id", "window_start")
            .agg(F.sum("n_batch").alias("n_batch"),
                 F.sum("n_admitted_batch").alias("n_admitted_batch"))
            .collect())

    live = totals(lambda s: ST.rate_limit_stream(s, limit=5),
                  "tws_live_mem")
    with ST.rocksdb_state_store(spark):
        tws = totals(lambda s: ST.rate_limit_stream_tws(s, limit=5),
                     "tws_new_mem")
    assert tws == live


def test_changelog_compact_tws_matches_live_form(spark, tmp_path):
    """X156's TWS twin (round-8 verdict item 5): the TWS changelog
    compactor and the legacy ``applyInPandasWithState`` form must fold
    to identical final winners per key under the (seq DESC, op ASC)
    collapse order, across multiple micro-batches."""
    import pandas as pd
    import pytest as _pytest

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W
    from sync_cosmos_db_spark.streaming import stateful as ST

    if not ST.transform_with_state_available():
        _pytest.skip("transformWithStateInPandas unavailable: no usable "
                     "protobuf runtime in this environment")

    d = tmp_path / "cdc_tws_src"
    d.mkdir()
    # two files -> two micro-batches; key 1 upserts then tombstones at
    # a higher seq, key 2's tie (seq 5) resolves op-ascending (d < u)
    b0 = pd.DataFrame({
        "o_orderkey": [1, 1, 2], "o_totalprice": [10.0, 11.0, 20.0],
        "o_orderstatus": ["O", "O", "F"], "seq": [1, 2, 5],
        "op": ["u", "u", "u"]})
    b1 = pd.DataFrame({
        "o_orderkey": [1, 2, 3], "o_totalprice": [0.0, 21.0, 30.0],
        "o_orderstatus": ["X", "F", "O"], "seq": [3, 5, 1],
        "op": ["d", "d", "u"]})
    b0.to_parquet(str(d / "b0.parquet"))
    b1.to_parquet(str(d / "b1.parquet"))
    schema = ("o_orderkey bigint, o_totalprice double, "
              "o_orderstatus string, seq bigint, op string")

    def winners(make_stream_op, name):
        from sync_cosmos_db_spark.streaming.windows import (
            run_stream_to_memory,
        )
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(d)))
        out = run_stream_to_memory(spark, make_stream_op(stream),
                                   name, mode="update")
        # emissions are monotone under the collapse order: the final
        # winner per key is the (seq DESC, op ASC) head of emissions
        w = (W.partitionBy("o_orderkey")
             .orderBy(F.desc("seq"), F.asc("op")))
        return sorted(
            (int(r.o_orderkey), int(r.seq), str(r.op),
             float(r.o_totalprice), str(r.o_orderstatus))
            for r in out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn").collect())

    live = winners(ST.changelog_compact_stream, "cdc_tws_live_mem")
    with ST.rocksdb_state_store(spark):
        tws = winners(ST.changelog_compact_stream_tws, "cdc_tws_new_mem")
    assert tws == live
    assert [(k, s, o) for k, s, o, *_ in tws] == [
        (1, 3, "d"), (2, 5, "d"), (3, 1, "u")]


def test_changelog_compaction_engines_agree_on_nulls_and_extremes(
        spark, tmp_path):
    """Every compaction engine picks the ``collapse_changelog`` winner
    (seq DESC NULLS LAST, op ASC NULLS FIRST) across two micro-batches:
    a null seq ranks last, a null op first at equal seq, a tombstone
    beats an upsert at equal seq, and seq = 2**63 - 1 and -2**63 order
    exactly, with a null seq in the same micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sync_cosmos_db_spark.operators.cdc import collapse_changelog
    from sync_cosmos_db_spark.streaming import stateful as ST

    i64_max, i64_min = 2**63 - 1, -2**63
    schema = pa.schema([("o_orderkey", pa.int64()),
                        ("o_totalprice", pa.float64()),
                        ("o_orderstatus", pa.string()),
                        ("seq", pa.int64()), ("op", pa.string())])
    feed = [
        # key 1: a null seq arrives after seq 5 and loses
        # key 2: only null seqs, so the tombstone wins on op
        # key 3: a null op at equal seq beats the tombstone
        # key 4: an equal-seq tombstone beats the upsert
        # key 5: the largest seq wins by 1
        # key 6: the smallest seq still beats a null seq
        # key 7: one event one above the smallest seq
        [(1, 1.0, "a", 5, "U"), (2, 2.0, "a", None, "U"),
         (3, 3.0, "a", 4, "D"), (4, 4.0, "a", 7, "U"),
         (5, 5.0, "a", i64_max - 1, "U"), (6, 6.0, "a", None, "U")],
        [(1, 1.5, "b", None, "U"), (2, 2.5, "b", None, "D"),
         (3, 3.5, "b", 4, None), (4, 4.5, "b", 7, "D"),
         (5, 5.5, "b", i64_max, "U"), (6, 6.5, "b", i64_min, "U"),
         (7, 7.0, "b", i64_min + 1, "U")],
    ]
    src = tmp_path / "feed"
    src.mkdir()
    for i, rows in enumerate(feed):
        path = str(src / f"b{i}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema), path)
        os.utime(path, (1_000_000_000 + i * 1000,) * 2)

    def stream():
        return (spark.readStream.schema(ST._CDC_OUT_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    def winners(df):
        return sorted(
            (r.o_orderkey, r.seq, r.op, r.o_totalprice, r.o_orderstatus)
            for r in collapse_changelog(df, ["o_orderkey"], "seq").collect())

    got = {
        "batch": winners(spark.read.parquet(str(src))),
        "live": winners(SW.run_stream_to_memory(
            spark, ST.changelog_compact_stream(stream()), "cdc_null_live",
            mode="update")),
        "batchmerge": winners(ST.run_changelog_compaction(
            stream(), str(tmp_path / "state"), ["o_orderkey"], "seq")),
    }
    if ST.transform_with_state_available():
        with ST.rocksdb_state_store(spark):
            got["tws"] = winners(SW.run_stream_to_memory(
                spark, ST.changelog_compact_stream_tws(stream()),
                "cdc_null_tws", mode="update"))
    want = [(1, 5, "U", 1.0, "a"), (2, None, "D", 2.5, "b"),
            (3, 4, None, 3.5, "b"), (4, 7, "D", 4.5, "b"),
            (5, i64_max, "U", 5.5, "b"), (6, i64_min, "U", 6.5, "b"),
            (7, i64_min + 1, "U", 7.0, "b")]
    for engine, rows in got.items():
        assert rows == want, engine


def test_write_event_time_slices_matches_ntile(spark, sf_dir, tmp_path):
    """r18: the two-phase-rank slicer must reproduce EXACT ntile(4)
    slice membership under the global (ts, event_id) order — one file
    per slice, strictly increasing forced mtimes, schema = input
    columns (no slice column leaks into the data files)."""
    import glob

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "slices")
    os.makedirs(out)
    SW.write_event_time_slices(ev, out, n_slices=4)
    files = sorted(glob.glob(os.path.join(out, "slice_*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        f"slice_{i}.parquet" for i in range(1, 5)]
    mtimes = [os.stat(f).st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    assert mtimes[-1] < 1_100_000_000  # forced, below any real mtime
    want = ev.withColumn(
        "s", F.ntile(4).over(W.orderBy("ts", "event_id")))
    for i, f in enumerate(files, start=1):
        got = spark.read.parquet(f)
        assert got.columns == ev.columns
        assert (sorted(r.event_id for r in got.select("event_id").collect())
                == sorted(r.event_id for r in
                          want.filter(F.col("s") == i)
                          .select("event_id").collect()))


def test_write_event_time_slices_fewer_rows_than_slices(spark, tmp_path):
    """n < n_slices: ntile gives the first n rows one slice each and
    the trailing slices produce no files."""
    import glob

    from pyspark.sql import functions as F

    df = (spark.range(2)
          .select((F.col("id") + 1).alias("event_id"),
                  F.timestamp_micros(F.col("id") * 1_000_000)
                  .alias("ts")))
    out = str(tmp_path / "tiny")
    os.makedirs(out)
    SW.write_event_time_slices(df, out, n_slices=4)
    files = sorted(glob.glob(os.path.join(out, "slice_*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        "slice_1.parquet", "slice_2.parquet"]
    assert [r.event_id for f in files
            for r in spark.read.parquet(f).collect()] == [1, 2]


def test_write_event_time_slices_raises_on_extra_part_file(
        spark, tmp_path, monkeypatch):
    """The one-file-per-slice invariant is a real exception, not an
    assert: a slice directory reporting two part files raises."""
    import glob

    from pyspark.sql import functions as F

    real_glob = glob.glob

    def two_parts(pattern, *a, **k):
        found = real_glob(pattern, *a, **k)
        if "__slice=1" in pattern:
            found = found + [pattern.replace("*", "part-extra")]
        return found

    monkeypatch.setattr(glob, "glob", two_parts)
    df = (spark.range(8)
          .select((F.col("id") + 1).alias("event_id"),
                  F.timestamp_micros(F.col("id") * 1_000_000)
                  .alias("ts")))
    out = str(tmp_path / "dup")
    os.makedirs(out)
    with pytest.raises(RuntimeError, match="slice 1 produced 2 files"):
        SW.write_event_time_slices(df, out, n_slices=4)


@pytest.mark.parametrize("form", ["compaction", "rate_limit"])
def test_batchmerge_empty_stream_raises(spark, tmp_path, form):
    """A batch-merge run over a source with no data raises
    ``RuntimeError`` — a real exception that ``python -O`` keeps."""
    from sync_cosmos_db_spark.streaming import stateful as ST

    src = tmp_path / "empty"
    src.mkdir()
    state = str(tmp_path / "state")
    if form == "compaction":
        stream = (spark.readStream.schema("k bigint, seq bigint, op string")
                  .parquet(str(src)))
        with pytest.raises(RuntimeError, match="no micro-batches"):
            ST.run_changelog_compaction(stream, state, ["k"], "seq")
    else:
        stream = (spark.readStream.schema("user_id bigint, ts timestamp")
                  .parquet(str(src)))
        with pytest.raises(RuntimeError, match="no micro-batches"):
            ST.run_rate_limit_batchmerge(stream, state)


# Drives every engine of both state machines on a few rows.  The repo
# goes on the DRIVER's sys.path only; Python workers start in the
# caller's cwd with the caller's PYTHONPATH, so they can reach the
# per-key steps only by value.
_BY_VALUE_SCRIPT = r'''
import json
import os
import sys

repo, work = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

import pandas as pd

from sync_cosmos_db_spark.operators.cdc import collapse_changelog
from sync_cosmos_db_spark.session import get_spark
from sync_cosmos_db_spark.streaming import stateful as ST
from sync_cosmos_db_spark.streaming.windows import run_stream_to_memory

spark = get_spark(app_name="by_value", master="local[2]",
                  shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")


def replay(name, schema, frames):
    d = os.path.join(work, name)
    os.makedirs(d)
    for i, pdf in enumerate(frames):
        p = os.path.join(d, f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1_000_000_000 + i * 1000,) * 2)
    return lambda: (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(d))


cdc = replay(
    "cdc", "o_orderkey bigint, o_totalprice double, o_orderstatus string, "
           "seq bigint, op string",
    [pd.DataFrame({"o_orderkey": [1, 1, 2], "o_totalprice": [10.0, 11.0, 20.0],
                   "o_orderstatus": ["O", "O", "F"], "seq": [1, 2, 5],
                   "op": ["U", "U", "U"]}),
     pd.DataFrame({"o_orderkey": [1, 2, 3], "o_totalprice": [0.0, 21.0, 30.0],
                   "o_orderstatus": ["X", "F", "O"], "seq": [3, 5, 1],
                   "op": ["D", "D", "U"]})])
base = pd.Timestamp("2024-03-01 10:00:00")


def events(ids, users):
    return pd.DataFrame({
        "event_id": list(ids), "user_id": users,
        "ts": [base + pd.Timedelta(seconds=i) for i in ids],
    }).astype({"ts": "datetime64[us]"})


rl = replay("rl", "event_id bigint, user_id bigint, ts timestamp",
            [events(range(7), [1] * 5 + [2] * 2),
             events(range(7, 13), [1] * 4 + [2] * 2)])


def winners(df):
    return sorted([r.o_orderkey, r.seq, r.op, r.o_totalprice] for r in
                  collapse_changelog(df, ["o_orderkey"], "seq").collect())


def totals(df):
    return sorted([r.window_start, r.n_events, r.n_admitted, r.n_dropped]
                  for r in df.collect())


def memory(df, name):
    return run_stream_to_memory(spark, df, name, mode="update")


out = {"tws": ST.transform_with_state_available()}
out["cdc_live"] = winners(memory(ST.changelog_compact_stream(cdc()), "c1"))
out["cdc_batchmerge"] = winners(ST.run_changelog_compaction(
    cdc(), os.path.join(work, "cdc_state"), ["o_orderkey"], "seq"))
out["rl_live"] = totals(ST.rate_limit_window_totals(
    memory(ST.rate_limit_stream(rl(), limit=5), "r1")))
out["rl_batchmerge"] = totals(ST.run_rate_limit_batchmerge(
    rl(), os.path.join(work, "rl_state"), limit=5))
if out["tws"]:
    with ST.rocksdb_state_store(spark):
        out["cdc_tws"] = winners(
            memory(ST.changelog_compact_stream_tws(cdc()), "c2"))
        out["rl_tws"] = totals(ST.rate_limit_window_totals(
            memory(ST.rate_limit_stream_tws(rl(), limit=5), "r2")))
print("RESULT " + json.dumps(out))
'''


def test_state_machines_run_without_package_on_workers(tmp_path):
    """The live, TWS and batch-merge engines of both state machines run
    when the Python workers cannot import this package, as under a
    driver launched from outside the repository: the per-key steps must
    be shipped by value (``session.register_pickle_by_value``).  A
    by-reference step fails in the worker with ``ModuleNotFoundError``,
    which an in-repo test session never sees."""
    import json
    import subprocess
    import sys

    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert not str(tmp_path).startswith(repo + os.sep)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    path = [p for p in env.pop("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.abspath(p) != repo]
    if path:
        env["PYTHONPATH"] = os.pathsep.join(path)
    script = tmp_path / "drive.py"
    script.write_text(_BY_VALUE_SCRIPT)
    work = tmp_path / "work"
    work.mkdir()
    proc = subprocess.run([sys.executable, str(script), repo, str(work)],
                          cwd=str(tmp_path), env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(next(line[len("RESULT "):] for line in
                          proc.stdout.splitlines()
                          if line.startswith("RESULT ")))
    h0 = int(pd.Timestamp("2024-03-01 10:00:00").timestamp())
    cdc = [[1, 3, "D", 0.0], [2, 5, "D", 21.0], [3, 1, "U", 30.0]]
    rl = [[h0, 13, 9, 4]]
    engines = ["live", "batchmerge"] + (["tws"] if out["tws"] else [])
    for engine in engines:
        assert out[f"cdc_{engine}"] == cdc, engine
        assert out[f"rl_{engine}"] == rl, engine


def test_streaming_layer_structure():
    """One ``foreachBatch`` start site (``windows.run_foreach_batch``),
    the RocksDB provider named only in ``stateful.py``, no provider
    override in tests, and no ``assert`` in ``streaming/``."""
    import ast
    import glob

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    foreach, rocksdb, asserts, overrides = [], [], [], []
    for path in sorted(glob.glob(os.path.join(repo, "sync_cosmos_db_spark",
                                              "**", "*.py"), recursive=True)
                       + glob.glob(os.path.join(repo, "tests", "*.py"))):
        rel = os.path.relpath(path, repo).replace(os.sep, "/")
        with open(path) as fh:
            src = fh.read()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                foreach.append(rel)
            if (isinstance(node, ast.Assert)
                    and rel.startswith("sync_cosmos_db_spark/streaming/")):
                asserts.append(f"{rel}:{node.lineno}")
            if (rel.startswith("sync_cosmos_db_spark/")
                    and isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "RocksDBStateStoreProvider" in node.value):
                rocksdb.append(rel)
            if (rel.startswith("tests/") and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "set" and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and "providerClass" in str(node.args[0].value)):
                overrides.append(f"{rel}:{node.lineno}")
    assert foreach == ["sync_cosmos_db_spark/streaming/windows.py"]
    assert rocksdb == ["sync_cosmos_db_spark/streaming/stateful.py"]
    assert not asserts, asserts
    assert not overrides, overrides


def test_state_store_aggregates_cross_no_python(spark, tmp_path):
    """Change-log compaction and the running totals are state-store
    aggregates: their analyzed plans hold no
    ``FlatMapGroupsInPandasWithState`` node (the rate limiter's live
    plan, the control, does), and the rate-limit machine is the only
    caller of ``_with_state``."""
    import ast

    from sync_cosmos_db_spark.streaming import stateful as ST

    def stream(schema):
        return spark.readStream.schema(schema).parquet(str(tmp_path))

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    node = "FlatMapGroupsInPandasWithState"
    assert node not in analyzed(
        ST.changelog_compact_stream(stream(ST._CDC_OUT_SCHEMA)))
    assert node not in analyzed(ST.running_user_totals(
        stream("user_id bigint, ts timestamp, value double")))
    assert node in analyzed(ST.rate_limit_stream(
        stream("user_id bigint, ts timestamp")))

    with open(ST.__file__) as fh:
        tree = ast.parse(fh.read())
    callers = {fn.name for fn in tree.body
               if isinstance(fn, ast.FunctionDef)
               for call in ast.walk(fn)
               if isinstance(call, ast.Call)
               and isinstance(call.func, ast.Name)
               and call.func.id == "_with_state"}
    assert callers == {"rate_limit_stream"}, callers


def test_query_modules_share_one_source_per_decision():
    """No module stages the events stream through ``os.symlink`` (a
    file path goes to ``windows.read_events_stream`` as is), no query
    module but the registry in ``queries.py`` reads ``ORACLE_SQL``
    (a query's oracle is a module-level constant or builder that
    ``tools/edited_queries.py`` can follow), and the exact top-k
    oracle is written out once (``queries_similarity``)."""
    import ast
    import glob

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    symlinks, registry_reads, topk = [], [], []
    for path in sorted(glob.glob(os.path.join(repo, "sync_cosmos_db_spark",
                                              "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, repo).replace(os.sep, "/")
        with open(path) as fh:
            src = fh.read()
        if "ORDER BY cs DESC, neighbor_id) AS rank" in src:
            topk.append(rel)
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Attribute) and node.attr == "symlink":
                symlinks.append(f"{rel}:{node.lineno}")
            if (isinstance(node, ast.Subscript)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "ORACLE_SQL"
                    and os.path.basename(rel).startswith("queries_")):
                registry_reads.append(f"{rel}:{node.lineno}")
    assert not symlinks, symlinks
    assert not registry_reads, registry_reads
    assert topk == ["sync_cosmos_db_spark/queries_similarity.py"], topk
