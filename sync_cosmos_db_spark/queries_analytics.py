"""Round-3 analytics-extension queries: behavioral analytics (funnel,
cohort retention, Markov transitions), graph ranking (PageRank),
snapshot diff, statistical profiling (correlation matrix, per-group
trend, IQR outliers), domain caps, bigram PMI, and the ORC roundtrip.

Every query is hash-checked against a DuckDB oracle; the PageRank
oracle replays the fixed-point iteration as three unrolled CTE rounds,
so the Spark loop's joins/aggregates are verified value-for-value, not
just structurally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_tempdir
from sync_cosmos_db_spark.migration import snapshot_diff
from sync_cosmos_db_spark.operators import behavioral as BH
from sync_cosmos_db_spark.operators import profiling as P
from sync_cosmos_db_spark.operators.curation import cap_per_group
from sync_cosmos_db_spark.operators.graph import pagerank, symmetrize
from sync_cosmos_db_spark.operators.text import bigram_pmi
from sync_cosmos_db_spark.queries import fsum, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# Behavioral analytics (operators/behavioral.py)
# ---------------------------------------------------------------------------

@query(
    "funnel_view_click_purchase",
    """
    WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s1 AS (SELECT e.user_id, min(e.ts) AS t1
           FROM events e JOIN s0 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s0.t0
           GROUP BY e.user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s1.t1
           GROUP BY e.user_id)
    SELECT 0::BIGINT AS step, 'view' AS step_name,
           (SELECT count(*) FROM s0)::BIGINT AS n_users
    UNION ALL
    SELECT 1, 'click', (SELECT count(*) FROM s1)
    UNION ALL
    SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    """,
)
def funnel_view_click_purchase(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users reaching each step
    strictly after the previous one.  k sequential user-keyed
    conditional min-ts aggregates (operators/behavioral.py) — never a
    sessionized collect_list."""
    ev = load_table(spark, sf_dir, "events")
    return BH.funnel_counts(ev, ["view", "click", "purchase"])


@query(
    "cohort_retention_weekly",
    """
    WITH first AS (SELECT user_id, min(ts) AS first_ts
                   FROM events GROUP BY user_id)
    SELECT epoch(date_trunc('week', f.first_ts))::BIGINT AS cohort_week_s,
           (date_diff('day', date_trunc('week', f.first_ts),
                      date_trunc('week', e.ts)) // 7)::BIGINT
             AS week_offset,
           count(DISTINCT e.user_id)::BIGINT AS n_users
    FROM events e JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: first-activity week × activity
    week offset × distinct users.  Two user-keyed aggregates."""
    ev = load_table(spark, sf_dir, "events")
    return BH.cohort_retention(ev)


@query(
    "markov_event_transitions",
    """
    WITH nxt AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events),
    c AS (SELECT from_type, to_type, count(*)::BIGINT AS n
          FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           floor(n / (sum(n) OVER (PARTITION BY from_type)) * 1000000
                 + 0.5) / 1000000 AS p
    FROM c
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (deterministic (ts, event_id) order), row-normalized."""
    ev = load_table(spark, sf_dir, "events")
    return BH.transition_matrix(ev)


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py) — oracle replays 3 unrolled iterations
# ---------------------------------------------------------------------------

_PAGERANK_ORACLE = """
    WITH raw AS (
      SELECT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node,
             count(*)::DOUBLE AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    edges AS (
      SELECT c_node AS src, s_node AS dst, w FROM raw
      UNION ALL
      SELECT s_node, c_node, w FROM raw),
    outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    c1 AS (SELECT e.dst AS node, sum(p.pr * (e.w / o.outw)) AS c
           FROM edges e JOIN pr0 p ON p.node = e.src
           JOIN outw o ON o.src = e.src GROUP BY e.dst),
    pr1 AS (SELECT nodes.node,
                   (1 - 0.85) / nn.n + 0.85 * coalesce(c1.c, 0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
    c2 AS (SELECT e.dst AS node, sum(p.pr * (e.w / o.outw)) AS c
           FROM edges e JOIN pr1 p ON p.node = e.src
           JOIN outw o ON o.src = e.src GROUP BY e.dst),
    pr2 AS (SELECT nodes.node,
                   (1 - 0.85) / nn.n + 0.85 * coalesce(c2.c, 0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node),
    c3 AS (SELECT e.dst AS node, sum(p.pr * (e.w / o.outw)) AS c
           FROM edges e JOIN pr2 p ON p.node = e.src
           JOIN outw o ON o.src = e.src GROUP BY e.dst),
    pr3 AS (SELECT nodes.node,
                   (1 - 0.85) / nn.n + 0.85 * coalesce(c3.c, 0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node)
    SELECT node, floor(pr * 1000000000 + 0.5) / 1000000000 AS pr_r
    FROM pr3
"""


@query("pagerank_customer_supplier", _PAGERANK_ORACLE)
def pagerank_customer_supplier(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, d=0.85) over the symmetric
    customer↔supplier trade graph (edge weight = lineitem count).  The
    Spark side is the Pregel-as-joins loop in operators/graph.py; the
    oracle replays the SAME three rounds as unrolled SQL CTEs, so every
    join and aggregate in the iteration is value-checked.  pr is
    rounded to 9 digits — the sums are order-sensitive in the last few
    ulps, 1e-9 is far above float noise and far below rank resolution.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    raw = (li.join(o, li.l_orderkey == o.o_orderkey)
           .groupBy((F.col("o_custkey") * 2).alias("src"),
                    (F.col("l_suppkey") * 2 + 1).alias("dst"))
           .agg(F.count("*").cast("double").alias("w")))
    # symmetrize = ONE pass over the lineitem⋈orders aggregation; the
    # previous union-of-two-selects executed it once per direction
    # (round 15, the connected_components explode pattern).
    edges = symmetrize(raw)
    pr = pagerank(edges, n_iter=3, damping=0.85)
    out = pr.select(
        "node",
        (F.floor(F.col("pr") * 1e9 + F.lit(0.5)) / 1e9).alias("pr_r"))
    return out


# ---------------------------------------------------------------------------
# Snapshot diff (migration.snapshot_diff)
# ---------------------------------------------------------------------------

@query(
    "snapshot_diff_orders",
    """
    WITH newsnap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 101 = 0),
    o AS (SELECT o_orderkey AS key, o_totalprice, o_orderstatus
          FROM orders),
    n AS (SELECT o_orderkey AS key, o_totalprice, o_orderstatus
          FROM newsnap),
    j AS (SELECT coalesce(o.key, n.key) AS key,
                 (o.key IS NULL) AS add_f, (n.key IS NULL) AS rm_f,
                 (o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                   AS ch_f
          FROM o FULL OUTER JOIN n ON o.key = n.key)
    SELECT CASE WHEN add_f THEN 'added' WHEN rm_f THEN 'removed'
                WHEN ch_f THEN 'changed' ELSE 'unchanged' END AS change,
           count(*)::BIGINT AS n_keys
    FROM j GROUP BY 1
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric snapshot diff (migration.snapshot_diff): the orders
    table against a derived second snapshot with deterministic deletes
    (%97), price changes (%13), and inserts (%101 shifted keys),
    aggregated to per-change-type key counts.  The operator compares
    256-bit content hashes after one full outer join on the key; the
    oracle compares the underlying columns directly — agreement shows
    the hash classification loses nothing."""
    o = load_table(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    changed = F.when(F.col("o_orderkey") % 13 == 0,
                     F.col("o_totalprice") + 1.0) \
        .otherwise(F.col("o_totalprice"))
    new = (old.filter(F.col("o_orderkey") % 97 != 0)
           .select("o_orderkey", changed.alias("o_totalprice"),
                   "o_orderstatus")
           .unionByName(
               old.filter(F.col("o_orderkey") % 101 == 0)
               .select((F.col("o_orderkey") + 100000000)
                       .alias("o_orderkey"),
                       "o_totalprice", "o_orderstatus")))
    d = snapshot_diff(old, new, "o_orderkey")
    return d.groupBy("change").agg(F.count("*").cast("long")
                                   .alias("n_keys"))


# ---------------------------------------------------------------------------
# Statistical profiling (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "corr_lineitem_metrics",
    """
    WITH s AS (
      SELECT count(*)::DOUBLE AS n,
             sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
             sum(l_discount) AS sz,
             sum(l_quantity * l_quantity) AS sxx,
             sum(l_extendedprice * l_extendedprice) AS syy,
             sum(l_discount * l_discount) AS szz,
             sum(l_quantity * l_extendedprice) AS sxy,
             sum(l_quantity * l_discount) AS sxz,
             sum(l_extendedprice * l_discount) AS syz
      FROM lineitem)
    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n::BIGINT AS n,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000 AS r FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_discount', n::BIGINT,
           floor((n * sxz - sx * sz)
                 / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz))
                 * 1000000 + 0.5) / 1000000 FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', n::BIGINT,
           floor((n * syz - sy * sz)
                 / sqrt((n * syy - sy * sy) * (n * szz - sz * sz))
                 * 1000000 + 0.5) / 1000000 FROM s
    """,
)
def corr_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over three lineitem measures in ONE
    scan (all sufficient statistics from a single aggregate, explicit
    textbook assembly so DuckDB recomputes bit-comparably)."""
    li = load_table(spark, sf_dir, "lineitem")
    return P.corr_pairs(
        li, ["l_quantity", "l_extendedprice", "l_discount"])


@query(
    "trend_customer_spend",
    """
    WITH pts AS (
      SELECT o_custkey AS key,
             (epoch(o_orderdate) / 86400.0) AS x, o_totalprice AS y
      FROM orders),
    g AS (SELECT key, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM pts GROUP BY key)
    SELECT key, n::BIGINT AS n,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000
                 + 0.5) / 1000000 AS slope,
           floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n * 1000000 + 0.5) / 1000000 AS intercept
    FROM g WHERE n >= 5 AND (n * sxx - sx * sx) > 0
    """,
)
def trend_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer least-squares spend trend (order totalprice vs
    order date in epoch days): one customer-keyed aggregate of the
    closed-form sums; customers with <5 orders or zero date variance
    are dropped."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_custkey"),
        (F.unix_timestamp("o_orderdate") / 86400.0).alias("x"),
        F.col("o_totalprice").alias("y"))
    return P.group_trend(pts, "o_custkey", "x", "y", min_n=5)


@query(
    "iqr_outlier_orders",
    """
    WITH q AS (
      SELECT o_orderstatus AS grp,
             floor(quantile_cont(o_totalprice, 0.25) * 1000000 + 0.5)
               / 1000000 AS q1,
             floor(quantile_cont(o_totalprice, 0.75) * 1000000 + 0.5)
               / 1000000 AS q3
      FROM orders GROUP BY o_orderstatus),
    b AS (SELECT grp, q1, q3,
                 floor((q1 - 1.5 * (q3 - q1)) * 1000000 + 0.5) / 1000000
                   AS lo,
                 floor((q3 + 1.5 * (q3 - q1)) * 1000000 + 0.5) / 1000000
                   AS hi
          FROM q)
    SELECT o.o_orderstatus AS grp, count(*)::BIGINT AS n,
           b.q1 AS q1, b.q3 AS q3,
           sum(CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM orders o JOIN b ON b.grp = o.o_orderstatus
    GROUP BY o.o_orderstatus, b.q1, b.q3
    """,
)
def iqr_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profile of order totals per order status:
    exact interpolated quartiles, fences rounded before comparison so
    classification is engine-reproducible."""
    o = load_table(spark, sf_dir, "orders")
    return P.iqr_outliers(o, "o_orderstatus", "o_totalprice")


# ---------------------------------------------------------------------------
# Domain cap (curation.cap_per_group)
# ---------------------------------------------------------------------------

@query(
    "cap_docs_per_source",
    """
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY sha256(doc_id::VARCHAR || ':cap'), doc_id) AS rn
      FROM documents)
    SELECT source, count(*)::BIGINT AS n_kept,
           sum(doc_id)::BIGINT AS sum_ids
    FROM r WHERE rn <= 10 GROUP BY source
    """,
)
def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap (the C4-style pages-per-
    domain rule): keep 10 docs per source by sha2-hash draw.  The
    oracle recomputes the SAME hash order, and the per-source doc-id
    SUM pins the exact kept set, not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_group(docs, "source", "doc_id", 10)
    return capped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("sum_ids"))


# ---------------------------------------------------------------------------
# Bigram PMI (text.bigram_pmi)
# ---------------------------------------------------------------------------

@query(
    "bigram_pmi_top",
    """
    WITH docs2 AS (SELECT string_split(text, ' ') AS l FROM documents),
    big AS (
      SELECT l[i] AS a, l[i + 1] AS b, count(*)::DOUBLE AS c_ab
      FROM docs2, unnest(generate_series(1, len(l) - 1)) AS t(i)
      GROUP BY 1, 2 HAVING count(*) >= 5),
    uni AS (
      SELECT unnest(l) AS tok FROM docs2),
    uc AS (SELECT tok, count(*)::DOUBLE AS c FROM uni
           WHERE tok <> '' GROUP BY tok),
    tot AS (SELECT sum(c) AS u_total FROM uc),
    bt AS (SELECT sum(c_ab) AS b_total FROM big)
    SELECT big.a, big.b, big.c_ab::BIGINT AS n_ab,
           floor(ln((big.c_ab / bt.b_total)
                    / ((ua.c / tot.u_total) * (ub.c / tot.u_total)))
                 * 1000000 + 0.5) / 1000000 AS pmi
    FROM big JOIN uc ua ON ua.tok = big.a
             JOIN uc ub ON ub.tok = big.b
             CROSS JOIN tot CROSS JOIN bt
    ORDER BY pmi DESC, big.a, big.b LIMIT 40
    """,
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 collocations by bigram PMI over the document corpus
    (min bigram count 5).  In-row zip_with bigram extraction — no
    positional self-join; totals ride constant-equi-key broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    return (bigram_pmi(docs, min_count=5)
            .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
            .limit(40))


# ---------------------------------------------------------------------------
# ORC roundtrip (sources/orc.py)
# ---------------------------------------------------------------------------

@query(
    "orc_roundtrip_documents",
    """
    SELECT doc_id, lang, source, length(text)::BIGINT AS text_len,
           sha256(text) AS text_sha
    FROM documents
    """,
)
def orc_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip (sources/orc.py): documents written as
    lang-partitioned zstd ORC, read back with the expected schema
    pinned, every row content-hash-compared against the parquet
    original by the oracle."""
    from sync_cosmos_db_spark.sources.orc import read_orc, write_orc

    docs = load_table(spark, sf_dir, "documents")
    d = os.path.join(scoped_tempdir("orc_rt_"), "docs")
    write_orc(docs.select("doc_id", "source", "text", "lang"), d,
              partition_by=["lang"])
    back = read_orc(spark, d,
                    schema="doc_id bigint, source string, text string, "
                           "lang string")
    return back.select(
        "doc_id", "lang", "source",
        F.length("text").cast("long").alias("text_len"),
        F.sha2(F.col("text"), 256).alias("text_sha"))


# ---------------------------------------------------------------------------
# Sessionization (behavioral.sessionize) + stream-static enrichment
# ---------------------------------------------------------------------------

@query(
    "session_stats_30m",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                     > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, ts,
                 sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
          FROM o)
    SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
           (max(epoch_us(ts)) - min(epoch_us(ts)))::BIGINT AS duration_us
    FROM s GROUP BY user_id, session_idx
    """,
)
def session_stats_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (behavioral.sessionize, 30-min gap): per
    (user, session) event count and microsecond-exact duration.  The
    lag + running-sum construction shares one (user, ts, id) sort; gap
    math is integer micros so the boundary decision is engine-exact."""
    from sync_cosmos_db_spark.operators.behavioral import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=1800)
    return (s.groupBy("user_id", "session_idx")
            .agg(F.count("*").cast("long").alias("n_events"),
                 (F.max(F.unix_micros("ts"))
                  - F.min(F.unix_micros("ts"))).cast("long")
                 .alias("duration_us")))


# ---------------------------------------------------------------------------
# Weighted sampling (curation.weighted_sample_k) + parquet compaction
# ---------------------------------------------------------------------------

@query(
    "weighted_sample_docs",
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             -ln((translate(substr(sha256(doc_id::VARCHAR || ':wsample'),
                                   1, 12), 'abcdef', '012345')::BIGINT + 1)
                 / 1000000000001.0) / n_chars AS key
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars FROM s ORDER BY key, doc_id LIMIT 100
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sample without replacement (A-ES exponential
    clocks, weight = document length).  The OUTPUT is integer columns
    only — the float sort key never surfaces — and the oracle replays
    the identical draw, so the exact sampled id set is hash-verified."""
    from sync_cosmos_db_spark.operators.curation import weighted_sample_k

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_k(docs, "doc_id", "n_chars", 100) \
        .select("doc_id", "n_chars")


@query(
    "compact_roundtrip_documents",
    """
    SELECT doc_id, lang, sha256(text) AS text_sha FROM documents
    """,
)
def compact_roundtrip_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Small-file compaction (sinks.compact_parquet): documents written
    as 24 deliberately-tiny files, compacted in place to size-targeted
    files, read back and content-hash-compared against the original —
    lake hygiene verified end to end (O13/O14 family)."""
    from sync_cosmos_db_spark.sinks import compact_parquet

    docs = load_table(spark, sf_dir, "documents")
    d = os.path.join(scoped_tempdir("compact_rt_"), "docs")
    docs.select("doc_id", "lang", "text").repartition(24) \
        .write.parquet(d)
    compact_parquet(spark, d, target_file_mb=256)
    back = spark.read.parquet(d)
    return back.select("doc_id", "lang",
                       F.sha2(F.col("text"), 256).alias("text_sha"))
