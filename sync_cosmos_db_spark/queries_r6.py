"""Round-6 operator families X119-X132: edit-distance join, bigram LM
scoring, vocabulary overlap, PII co-occurrence, robust scaling, local
clustering coefficient, out-of-order audit, target encoding, split
leakage audit, time-weighted average, centroid cosine matrix,
referential-integrity audit, stride chunking.

Each query drives the real operator end-to-end on the harness tables
and carries a DuckDB oracle that recomputes the result independently
(same fixtures, independent formulation where the operator is blocked /
windowed / iterative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fsum, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X119 — exact edit-distance self-join (PassJoin blocking)
# ---------------------------------------------------------------------------

@query(
    "editdist_pairs_customers",
    # r13 oracle rewrite (149 s at sf0.1, one flake away from the
    # 180 s sweep cap): same exact lev<=1 case decomposition as
    # linkage_fuzzy_customers — hamming at equal length (mismatches,
    # O(len) instead of the O(len^2) DP), complete single-deletion-
    # neighborhood equality at length ±1, impossible beyond.  Still
    # unblocked over every length-compatible pair; 149 s -> 2.7 s,
    # rows identical at sf0.01.  The WHERE is CASE-guarded on length
    # equality (ADVICE r13): `mismatches` errors on unequal lengths,
    # so the oracle must not rely on the planner hash-joining the
    # length-equality ON before the predicate runs.
    """
    WITH eq AS (
      SELECT a.c_custkey::BIGINT AS id_a, b.c_custkey::BIGINT AS id_b,
             mismatches(a.c_name, b.c_name)::BIGINT AS dist
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
       AND length(a.c_name) = length(b.c_name)
      WHERE CASE WHEN length(a.c_name) = length(b.c_name)
                 THEN mismatches(a.c_name, b.c_name) <= 1
                 ELSE false END),
    vars AS (
      SELECT DISTINCT c_custkey, c_name,
             substr(c_name, 1, i - 1) || substr(c_name, i + 1) AS v
      FROM (SELECT c_custkey, c_name,
                   unnest(generate_series(1, length(c_name))) AS i
            FROM customer)),
    d1 AS (
      SELECT least(a.c_custkey, v.c_custkey)::BIGINT AS id_a,
             greatest(a.c_custkey, v.c_custkey)::BIGINT AS id_b,
             1::BIGINT AS dist
      FROM customer a JOIN vars v ON a.c_name = v.v
      WHERE length(a.c_name) = length(v.c_name) - 1
        AND a.c_custkey <> v.c_custkey)
    SELECT id_a, id_b, dist FROM eq
    UNION ALL
    SELECT id_a, id_b, dist FROM d1
    """,
)
def editdist_pairs_customers(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X119 — typo-level name dedup (``linkage.editdist_join``): all
    customer-name pairs within edit distance 1 via FastSS deletion-
    neighborhood blocking (pigeonhole-complete, never O(n²)) + in-row
    JVM ``levenshtein`` verify.  The oracle is the unblocked
    formulation over every length-compatible pair (exact lev<=1 case
    decomposition — see the SQL comment) — feasible at test scale,
    which is exactly why the blocked form exists for the real one."""
    from sync_cosmos_db_spark.operators.linkage import editdist_join

    cust = load_table(spark, sf_dir, "customer")
    return editdist_join(cust, "c_custkey", "c_name", max_dist=1)


# ---------------------------------------------------------------------------
# X120 — interpolated bigram LM scoring
# ---------------------------------------------------------------------------

@query(
    "bigram_lm_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split_regex(text, '\\s+'), 1)
               AS pos,
             unnest(string_split_regex(text, '\\s+')) AS w
      FROM documents),
    bigf AS (
      SELECT * FROM (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks)
      WHERE w2 IS NOT NULL),
    bc AS (SELECT w1, w2, count(*)::DOUBLE AS cb
           FROM bigf GROUP BY 1, 2),
    uc AS (SELECT w, count(*)::DOUBLE AS cu FROM toks GROUP BY 1),
    tot AS (SELECT sum(cu) AS t FROM uc),
    lp AS (SELECT b.doc_id,
                  ln(0.8 * bc.cb / u1.cu
                     + 0.2 * u2.cu / (SELECT t FROM tot)) AS lp
           FROM bigf b
           JOIN bc USING (w1, w2)
           JOIN uc u1 ON u1.w = b.w1
           JOIN uc u2 ON u2.w = b.w2)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           floor(-avg(lp) * 1000000 + 0.5) / 1000000 AS avg_neg_logprob
    FROM lp GROUP BY 1
    """,
)
def bigram_lm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120 — per-document scoring under an interpolated bigram LM fit
    on the corpus (``text.bigram_backoff_logprob``): the
    Jelinek-Mercer upgrade of the unigram CCNet scorer (X17) —
    context-aware fluency, same token-keyed shuffle shape."""
    from sync_cosmos_db_spark.operators.text import bigram_backoff_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_backoff_logprob(docs, "doc_id", "text", lam=0.8)


# ---------------------------------------------------------------------------
# X122 — cross-source vocabulary overlap
# ---------------------------------------------------------------------------

@query(
    "vocab_overlap_sources",
    """
    WITH tv AS (
      SELECT DISTINCT source AS g,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents),
    sz AS (SELECT g, count(*)::BIGINT AS n FROM tv GROUP BY 1),
    inter AS (SELECT a.g AS ga, b.g AS gb, count(*)::BIGINT AS inter
              FROM tv a JOIN tv b ON a.tok = b.tok AND a.g < b.g
              GROUP BY 1, 2)
    SELECT ga AS group_a, gb AS group_b,
           sa.n AS n_a, sb.n AS n_b, inter,
           floor(inter / (sa.n + sb.n - inter) * 1000000 + 0.5)
             / 1000000 AS jaccard
    FROM inter
    JOIN sz sa ON sa.g = ga
    JOIN sz sb ON sb.g = gb
    """,
)
def vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122 — pairwise vocabulary Jaccard between sources
    (``text.source_vocab_overlap``): the mixture-design /
    snapshot-drift diagnostic.  Token-keyed distinct + self-join with
    per-token fan-out bounded by |sources|²."""
    from sync_cosmos_db_spark.operators.text import source_vocab_overlap

    docs = load_table(spark, sf_dir, "documents")
    return source_vocab_overlap(docs, "source", "text")


# ---------------------------------------------------------------------------
# X123 — PII co-occurrence audit
# ---------------------------------------------------------------------------

_PII_EMAIL = "[a-z0-9]+@[a-z]+\\.com"
_PII_PHONE = "[0-9]{3}-[0-9]{4}"
_PII_REF = "ID-[0-9]{6}"


@query(
    "pii_cooccurrence_docs",
    f"""
    WITH fix AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' mail u' || doc_id || '@ex.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' tel 555-' || lpad((doc_id % 10000)::VARCHAR,
                                                4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' ref ID-' || lpad(doc_id::VARCHAR, 6, '0')
                       ELSE '' END AS txt
      FROM documents),
    flags AS (
      SELECT regexp_matches(txt, '{_PII_EMAIL}') AS has_email,
             regexp_matches(txt, '{_PII_PHONE}') AS has_phone,
             regexp_matches(txt, '{_PII_REF}') AS has_ref
      FROM fix)
    SELECT has_email, has_phone, has_ref, count(*)::BIGINT AS n
    FROM flags GROUP BY 1, 2, 3
    """,
)
def pii_cooccurrence_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123 — PII co-occurrence audit: documents bucketed by WHICH
    combination of PII classes they contain (email × phone × internal
    reference id) — the risk-tiering pass before redaction
    (``sanitizer.redact_text``, X22): a doc with email+phone is a
    contact record, one with all three is a leaked CRM row.  The PII
    is injected deterministically in-query (the harness corpus is
    clean); detection is three single-pass JVM regexps — zero
    shuffle before the ≤8-row combination aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" mail u"), F.col("doc_id"),
                        F.lit("@ex.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" tel 555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" ref ID-"),
                        F.lpad(F.col("doc_id").cast("string"),
                               6, "0"))).otherwise(F.lit("")))
    return (docs.select(
        txt.rlike(_PII_EMAIL).alias("has_email"),
        txt.rlike(_PII_PHONE).alias("has_phone"),
        txt.rlike(_PII_REF).alias("has_ref"))
        .groupBy("has_email", "has_phone", "has_ref")
        .agg(F.count("*").cast("long").alias("n")))


# ---------------------------------------------------------------------------
# X124 — robust (median/IQR) scaling profile
# ---------------------------------------------------------------------------

@query(
    "robust_scale_prices",
    """
    WITH q AS (
      SELECT o_orderpriority AS grp,
             floor(quantile_cont(o_totalprice, 0.25) * 10000 + 0.5)
               / 10000 AS q1,
             floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5)
               / 10000 AS med,
             floor(quantile_cont(o_totalprice, 0.75) * 10000 + 0.5)
               / 10000 AS q3
      FROM orders GROUP BY 1),
    z AS (SELECT o.o_orderpriority AS g, q.med, q.q3 - q.q1 AS iqr,
                 (o.o_totalprice - q.med) / (q.q3 - q.q1) AS z
          FROM orders o JOIN q ON q.grp = o.o_orderpriority)
    SELECT g AS o_orderpriority, count(*)::BIGINT AS n,
           max(med) AS med, max(iqr) AS iqr,
           CASE WHEN max(iqr) > 0
                THEN floor(avg(z) * 10000 + 0.5) / 10000 END
             AS scaled_mean,
           CASE WHEN max(iqr) > 0
                THEN floor(avg(CASE WHEN abs(z) <= 1.0
                                    THEN 1.0 ELSE 0.0 END)
                           * 10000 + 0.5) / 10000 END
             AS frac_within_1
    FROM z GROUP BY 1
    """,
)
def robust_scale_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124 — median/IQR robust scaling with verification stats
    (``profiling.robust_scale_profile``): the outlier-immune
    standardization for scraped numerics; scale parameters are
    rounded BEFORE the transform on both engines."""
    from sync_cosmos_db_spark.operators.profiling import (
        robust_scale_profile,
    )

    orders = load_table(spark, sf_dir, "orders")
    return robust_scale_profile(orders, "o_orderpriority", "o_totalprice")


# ---------------------------------------------------------------------------
# X125 — local clustering coefficient
# ---------------------------------------------------------------------------

@query(
    "clustering_coeff_docs",
    """
    WITH raw AS (
      SELECT doc_id AS s, (doc_id * 7 + 3) % 500 AS d FROM documents
      UNION ALL
      SELECT doc_id, (doc_id + 1) % 500 FROM documents
      UNION ALL
      SELECT doc_id, (doc_id + 2) % 500 FROM documents),
    e AS (SELECT DISTINCT least(s, d) AS lo, greatest(s, d) AS hi
          FROM raw WHERE s <> d),
    deg AS (SELECT node, count(*)::BIGINT AS degree FROM (
              SELECT lo AS node FROM e
              UNION ALL SELECT hi FROM e) GROUP BY 1),
    tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
            FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
                      JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
    tn AS (SELECT node, count(*)::BIGINT AS n_tri FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY 1)
    SELECT deg.node, deg.degree,
           coalesce(tn.n_tri, 0)::BIGINT AS n_tri,
           floor(coalesce(tn.n_tri, 0) * 2.0
                 / (deg.degree * (deg.degree - 1)) * 1000000 + 0.5)
             / 1000000 AS cc
    FROM deg LEFT JOIN tn USING (node)
    WHERE deg.degree >= 2
    """,
)
def clustering_coeff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125 — local clustering coefficient
    (``graph.clustering_coefficient``) over the same ring-chord doc
    graph as the X47 triangle count: per-node neighborhood tightness
    from compact-forward wedge enumeration; the oracle recounts with
    an independent 3-way self-join."""
    from sync_cosmos_db_spark.operators.graph import (
        clustering_coefficient,
    )

    docs = load_table(spark, sf_dir, "documents")
    raw = (docs.select(F.col("doc_id").alias("src"),
                       ((F.col("doc_id") * 7 + 3) % 500).alias("dst"))
           .unionByName(docs.select(
               F.col("doc_id").alias("src"),
               ((F.col("doc_id") + 1) % 500).alias("dst")))
           .unionByName(docs.select(
               F.col("doc_id").alias("src"),
               ((F.col("doc_id") + 2) % 500).alias("dst"))))
    return clustering_coefficient(raw)


# ---------------------------------------------------------------------------
# X126 — out-of-order arrival audit
# ---------------------------------------------------------------------------

@query(
    "out_of_order_events",
    """
    WITH flagged AS (
      SELECT event_type,
             CASE WHEN ts < max(ts) OVER (
                    PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS late
      FROM events)
    SELECT event_type, count(*)::BIGINT AS n,
           sum(late)::BIGINT AS n_late,
           floor(avg(late::DOUBLE) * 1000000 + 0.5) / 1000000
             AS late_rate
    FROM flagged GROUP BY 1
    """,
)
def out_of_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126 — out-of-order arrival audit: per event type, the fraction
    of events whose timestamp precedes the running maximum of their
    user's stream in ARRIVAL order (event_id) — the ingest-quality
    pre-flight that sizes streaming watermarks (A7) and decides
    whether a pipeline needs late-data reconciliation at all.  One
    user-keyed window (running max), one tiny per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    late = F.when(F.col("ts") < F.max("ts").over(w), 1).otherwise(0)
    p = 10 ** 6
    return (ev.withColumn("late", late)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("late").cast("long").alias("n_late"),
                 (F.floor(F.avg(F.col("late").cast("double")) * p
                          + F.lit(0.5)) / p).alias("late_rate")))


# ---------------------------------------------------------------------------
# X127 — smoothed (m-estimate) target encoding
# ---------------------------------------------------------------------------

@query(
    "target_encode_segments",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS cat,
             floor(o.o_totalprice * 100 + 0.5)::BIGINT AS tc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    g AS (SELECT sum(tc)::DOUBLE / count(*) AS gm FROM j)
    SELECT cat, count(*)::BIGINT AS n,
           floor(sum(tc)::DOUBLE / count(*) * 100 + 0.5) / 10000
             AS raw_mean,
           floor((sum(tc)::DOUBLE + 10.0 * (SELECT gm FROM g))
                 / (count(*) + 10.0) * 100 + 0.5) / 10000 AS encoded
    FROM j GROUP BY 1
    """,
)
def target_encode_segments(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X127 — m-estimate target encoding (``curation.target_encode``)
    of market segment against order value: the smoothed categorical
    encoder (prior weight m=10) that keeps rare categories from
    memorizing their own targets.  Category-keyed aggregate + 1-row
    global broadcast."""
    from sync_cosmos_db_spark.operators.curation import target_encode

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust),
                    orders["o_custkey"] == cust["c_custkey"])
    return target_encode(j, "c_mktsegment", "o_totalprice", m=10.0)


# ---------------------------------------------------------------------------
# X128 — train/eval split leakage audit (row vs group split)
# ---------------------------------------------------------------------------

@query(
    "split_leakage_audit_events",
    """
    WITH rs AS (
      SELECT user_id,
             translate(substr(sha256(event_id::VARCHAR || ':rowsplit'),
                              1, 6), 'abcdef', '012345')::BIGINT % 2 AS b
      FROM events),
    rg AS (SELECT user_id,
                  sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS tr,
                  sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS ev
           FROM rs GROUP BY 1),
    gs AS (
      SELECT user_id,
             translate(substr(sha256(user_id::VARCHAR || ':groupsplit'),
                              1, 6), 'abcdef', '012345')::BIGINT % 2 AS b,
             count(*) AS c
      FROM events GROUP BY 1, 2)
    SELECT 'row' AS method,
           sum(tr)::BIGINT AS n_train, sum(ev)::BIGINT AS n_eval,
           count(*)::BIGINT AS n_groups,
           sum(CASE WHEN tr > 0 AND ev > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_leaky_groups
    FROM rg
    UNION ALL
    SELECT 'group',
           sum(CASE WHEN b = 0 THEN c ELSE 0 END)::BIGINT,
           sum(CASE WHEN b = 1 THEN c ELSE 0 END)::BIGINT,
           count(*)::BIGINT, 0::BIGINT
    FROM gs
    """,
)
def split_leakage_audit_events(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X128 — split-leakage audit (``curation.group_split_audit``):
    a row-level hash split scatters most users across train AND eval
    (the memorization leak); the user-keyed split has structurally
    zero leaky groups — the pre-flight assertion before any
    fine-tune.  Both splits are deterministic sha2 buckets, never
    ``rand()``."""
    from sync_cosmos_db_spark.operators.curation import group_split_audit

    ev = load_table(spark, sf_dir, "events")
    return group_split_audit(ev, "event_id", "user_id")


# ---------------------------------------------------------------------------
# X129 — trapezoidal time-weighted average
# ---------------------------------------------------------------------------

@query(
    "twa_user_value",
    """
    WITH paired AS (
      SELECT user_id, epoch(ts) AS t, value::DOUBLE AS v,
             lead(epoch(ts)) OVER w AS t2,
             lead(value::DOUBLE) OVER w AS v2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    areas AS (
      SELECT user_id, (v2 + v) / 2 * (t2 - t) AS area, t2 - t AS dt
      FROM paired WHERE t2 IS NOT NULL)
    SELECT user_id, (count(*) + 1)::BIGINT AS n_obs,
           floor(sum(area) / sum(dt) * 10000 + 0.5) / 10000 AS twa
    FROM areas GROUP BY 1
    HAVING sum(dt) > 0
    """,
)
def twa_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129 — trapezoidal time-weighted average of event value per
    user (``temporal.time_weighted_avg``): the correct mean for
    irregularly sampled series — one user-keyed lead window, one
    reduce, no self-join."""
    from sync_cosmos_db_spark.operators.temporal import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev, "user_id", "ts", "value",
                             order_col="event_id")


# ---------------------------------------------------------------------------
# X130 — pairwise centroid cosine matrix
# ---------------------------------------------------------------------------

@query(
    "centroid_cosine_labels",
    """
    WITH dv AS (
      SELECT label AS g,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    cent AS (SELECT g, dim,
                    floor(sum(floor(v * 10000000000 + 0.5)::BIGINT)::DOUBLE
                          / count(*) + 0.5) / 10000000000 AS c
             FROM dv GROUP BY 1, 2),
    nrm AS (SELECT g, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY 1),
    dots AS (SELECT a.g AS ga, b.g AS gb, sum(a.c * b.c) AS dot
             FROM cent a JOIN cent b ON a.dim = b.dim AND a.g < b.g
             GROUP BY 1, 2)
    SELECT ga AS group_a, gb AS group_b,
           floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cos
    FROM dots
    JOIN nrm na ON na.g = ga
    JOIN nrm nb ON nb.g = gb
    """,
)
def centroid_cosine_labels(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X130 — pairwise cosine between per-label embedding centroids
    (``similarity.centroid_cosine_matrix``): the class-confusion /
    source-redundancy matrix at embedding level.  Centroids are
    rounded to 10 decimals before any product on BOTH engines so
    summation-order ulps cannot flip the 4-decimal output."""
    from sync_cosmos_db_spark.operators.similarity import (
        centroid_cosine_matrix,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_cosine_matrix(emb, "label", "embedding")


# ---------------------------------------------------------------------------
# X132 — referential-integrity orphan audit
# ---------------------------------------------------------------------------

@query(
    "ri_orphan_audit",
    """
    SELECT 'orders.custkey->customer' AS fk,
           (SELECT count(*) FROM orders)::BIGINT AS n_child,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
             AS n_orphans
    UNION ALL
    SELECT 'lineitem.orderkey->orders',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
    UNION ALL
    SELECT 'lineitem.partkey->part',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))::BIGINT
    UNION ALL
    SELECT 'orders.custkey->customer[acctbal>0]',
           (SELECT count(*) FROM orders)::BIGINT,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey
                                AND c.c_acctbal > 0))::BIGINT
    """,
)
def ri_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132 — referential-integrity orphan audit: child rows whose
    foreign key has no parent, for every FK edge of the star schema —
    the pre-flight that catches partial loads and CDC races before a
    join silently drops rows.  Each audit is one LEFT ANTI join
    (broadcast for dimension parents, shuffle-keyed for fact-fact);
    the fourth row audits against a RESTRICTED parent set
    (acctbal > 0) to demonstrate a nonzero finding on clean data."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def audit(name, child, parent, ck, pk, bcast):
        p = parent.select(pk).distinct()
        if bcast:
            p = F.broadcast(p)
        orphans = child.join(p, child[ck] == p[pk], "left_anti")
        return (child.agg(F.count("*").cast("long").alias("n_child"))
                .crossJoin(F.broadcast(
                    orphans.agg(F.count("*").cast("long")
                                .alias("n_orphans"))))
                .select(F.lit(name).alias("fk"), "n_child", "n_orphans"))

    return (audit("orders.custkey->customer", orders, cust,
                  "o_custkey", "c_custkey", True)
            .unionByName(audit("lineitem.orderkey->orders", li, orders,
                               "l_orderkey", "o_orderkey", False))
            .unionByName(audit("lineitem.partkey->part", li, part,
                               "l_partkey", "p_partkey", True))
            .unionByName(audit("orders.custkey->customer[acctbal>0]",
                               orders,
                               cust.filter(F.col("c_acctbal") > 0),
                               "o_custkey", "c_custkey", True)))


# ---------------------------------------------------------------------------
# X134 — sliding-window chunking with overlap
# ---------------------------------------------------------------------------

@query(
    "stride_chunks_documents",
    """
    WITH base AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS arr
      FROM documents),
    st AS (
      SELECT doc_id, arr, unnest(generate_series(0, len(arr) - 1, 24))
               AS start
      FROM base)
    SELECT doc_id, (start // 24)::BIGINT AS chunk_idx,
           least(32, len(arr) - start)::BIGINT AS n_chunk_tokens,
           arr[start + 1] AS head_tok
    FROM st
    """,
)
def stride_chunks_documents(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X134 — sliding-window chunking with overlap
    (``curation.stride_chunks``, W=32 S=24): the RAG ingestion cut
    that keeps 8 tokens of context across boundaries.  Entirely
    in-row (``sequence`` + ``slice`` over the token array) — zero
    shuffle."""
    from sync_cosmos_db_spark.operators.curation import stride_chunks

    docs = load_table(spark, sf_dir, "documents")
    return stride_chunks(docs, "doc_id", "text", window=32, stride=24)


# ===========================================================================
# merged from queries_r6b.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-6 operator families (second batch) X121, X133, X135-X142:
changepoint scan, magic-byte sniffing, autocorrelation, Mann-Whitney
rank-sum, weighted median, quantile alignment, Gini concentration,
source KL divergence, recursive-CTE reachability, inter-arrival
burstiness.

Each query drives the real operator end-to-end on the harness tables
and carries a DuckDB oracle that recomputes the result independently.
The recursive-CTE query (X141) runs the SAME SQL text on both engines
— Spark 4's native ``WITH RECURSIVE`` support is itself the feature
under test.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X121 — mean-shift changepoint scan
# ---------------------------------------------------------------------------

@query(
    "changepoint_daily_revenue",
    """
    WITH s AS (
      SELECT o_orderdate::DATE AS day,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0 AS v
      FROM orders GROUP BY 1),
    b AS (SELECT day,
                 row_number() OVER (ORDER BY day) AS i,
                 sum(floor(v * 10000 + 0.5)::BIGINT)
                   OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
          FROM s),
    t AS (SELECT max(i) AS n,
                 (SELECT sum(floor(v * 10000 + 0.5)::BIGINT) FROM s)::BIGINT
                   AS st
          FROM b),
    sc AS (SELECT day AS split_day, i::BIGINT AS n_before,
                  (t.n - i)::BIGINT AS n_after,
                  floor(cum::DOUBLE / i + 0.5) / 10000 AS mean_before,
                  floor((t.st - cum)::DOUBLE / (t.n - i) + 0.5) / 10000
                    AS mean_after,
                  floor(abs(cum::DOUBLE / i
                            - (t.st - cum)::DOUBLE / (t.n - i)) + 0.5)
                    / 10000 AS gap
           FROM b, t WHERE i < t.n)
    SELECT split_day, n_before, n_after, mean_before, mean_after, gap
    FROM sc
    QUALIFY row_number() OVER (ORDER BY gap DESC, split_day) <= 5
    """,
)
def changepoint_daily_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X121 — mean-shift changepoint scan
    (``profiling.changepoint_scan``) over daily order revenue: the
    binary-segmentation first step that localizes regime changes
    (an ingest cliff, a price re-denomination).  The raw table
    collapses to one row per day BEFORE the scan, so the ordered
    window runs on a period-sized series at any corpus scale."""
    from sync_cosmos_db_spark.operators.profiling import changepoint_scan

    orders = load_table(spark, sf_dir, "orders")
    series = (orders
              .groupBy(F.to_date(F.col("o_orderdate")).alias("day"))
              .agg(fsum("o_totalprice", 2).alias("rev")))
    return changepoint_scan(series, "day", "rev", top_k=5)


# ---------------------------------------------------------------------------
# X133 — binary container sniffing from magic bytes
# ---------------------------------------------------------------------------

@query(
    "binary_sniff_documents",
    """
    WITH b AS (
      SELECT CASE
               WHEN doc_id % 4 = 0
                 THEN unhex('89504E470D0A1A0A') || encode(text)
               WHEN doc_id % 4 = 1
                 THEN unhex('52494646') || unhex('00000000')
                      || unhex('57415645') || encode(text)
               WHEN doc_id % 4 = 2
                 THEN unhex('FFD8FF') || encode(text)
               ELSE encode(text)
             END AS bin
      FROM documents),
    s AS (
      SELECT CASE
               WHEN substr(hex(bin), 1, 16) = '89504E470D0A1A0A'
                 THEN 'png'
               WHEN substr(hex(bin), 1, 6) = 'FFD8FF' THEN 'jpeg'
               WHEN substr(hex(bin), 1, 8) = '52494646'
                    AND substr(hex(bin), 17, 8) = '57415645'
                 THEN 'wav'
               ELSE 'unknown'
             END AS kind,
             octet_length(bin) AS nb
      FROM b)
    SELECT kind, count(*)::BIGINT AS n, sum(nb)::BIGINT AS total_bytes
    FROM s GROUP BY 1
    """,
)
def binary_sniff_documents(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X133 — container-format sniffing
    (``multimodal.sniff_binary_type``): route an opaque binary column
    to the right decoder by magic bytes (PNG / JPEG / RIFF+WAVE),
    never by file extension.  The corpus is built deterministically
    in-query (doc_id % 4 selects the wrapper).  Pure in-row JVM
    ``substring``+``hex`` — zero shuffle before the ≤4-row
    aggregate."""
    from sync_cosmos_db_spark.operators.multimodal import (
        sniff_binary_type,
    )

    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    b = (F.when(F.col("doc_id") % 4 == 0,
                F.concat(F.unhex(F.lit("89504E470D0A1A0A")), payload))
         .when(F.col("doc_id") % 4 == 1,
               F.concat(F.unhex(F.lit("52494646")),
                        F.unhex(F.lit("00000000")),
                        F.unhex(F.lit("57415645")), payload))
         .when(F.col("doc_id") % 4 == 2,
               F.concat(F.unhex(F.lit("FFD8FF")), payload))
         .otherwise(payload))
    return (docs.select(sniff_binary_type(b).alias("kind"),
                        F.length(b).alias("nb"))
            .groupBy("kind")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("nb").cast("long").alias("total_bytes")))


# ---------------------------------------------------------------------------
# X135 — lag-k autocorrelation of the daily event series
# ---------------------------------------------------------------------------

@query(
    "acf_daily_events",
    """
    WITH s AS (SELECT date_trunc('day', ts) AS day,
                      count(*)::DOUBLE AS v
               FROM events GROUP BY 1),
    m AS (SELECT floor(avg(v) * 1000000 + 0.5) / 1000000 AS xbar
          FROM s),
    b AS (SELECT day, v - (SELECT xbar FROM m) AS d FROM s),
    i AS (SELECT row_number() OVER (ORDER BY day) AS i, d FROM b),
    den AS (SELECT sum(d * d) AS den FROM i),
    pairs AS (SELECT t.k AS lag, a.d AS da, c.d AS dk
              FROM generate_series(1, 7) t(k)
              CROSS JOIN i a
              JOIN i c ON c.i = a.i + t.k)
    SELECT lag::BIGINT AS lag, count(*)::BIGINT AS n_pairs,
           floor(sum(da * dk) / (SELECT den FROM den) * 1000000 + 0.5)
             / 1000000 AS acf_value
    FROM pairs GROUP BY 1
    """,
)
def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135 — autocorrelation (``profiling.acf``) of daily event
    counts at lags 1..7: the seasonality / memory diagnostic that
    decides lag features and forecast horizon.  The raw stream
    collapses to one row per day first; all 7 lags ride ONE ordered
    window sort, then a single unpivot → lag-keyed reduce."""
    from sync_cosmos_db_spark.operators.profiling import acf

    ev = load_table(spark, sf_dir, "events")
    series = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
              .agg(F.count("*").cast("double").alias("n")))
    return acf(series, "day", "n", max_lag=7)


# ---------------------------------------------------------------------------
# X136 — Mann-Whitney U rank-sum test
# ---------------------------------------------------------------------------

@query(
    "ranksum_building_machinery",
    """
    WITH two AS (
      SELECT c.c_mktsegment AS g, o.o_totalprice::DOUBLE AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    vc AS (SELECT v, count(*)::DOUBLE AS t,
                  sum(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
                    ::DOUBLE AS ta
           FROM two GROUP BY 1),
    r AS (SELECT *, sum(t) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
          FROM vc),
    a AS (SELECT sum(ta) AS na, sum(t - ta) AS nb,
                 sum((cum - (t - 1) / 2) * ta) AS ra,
                 sum(t * t * t - t) AS ties
          FROM r)
    SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           floor((ra - na * (na + 1) / 2) * 1000000 + 0.5) / 1000000
             AS u_a,
           floor(na * nb / 2 * 1000000 + 0.5) / 1000000 AS mean_u,
           floor((ra - na * (na + 1) / 2 - na * nb / 2)
                 / sqrt(na * nb / 12
                        * ((na + nb + 1)
                           - ties / ((na + nb) * (na + nb - 1))))
                 * 1000000 + 0.5) / 1000000 AS z
    FROM a
    """,
)
def ranksum_building_machinery(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X136 — Mann-Whitney U (``profiling.rank_sum_test``) between
    BUILDING and MACHINERY order values: the distribution-free
    location test that survives heavy tails.  Midranks come from a
    value-keyed pre-reduce + ONE cumulative window over DISTINCT
    values — the per-row global sort a naive ranking would do never
    happens."""
    from sync_cosmos_db_spark.operators.profiling import rank_sum_test

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust),
                    orders["o_custkey"] == cust["c_custkey"])
    return rank_sum_test(j, "c_mktsegment", "o_totalprice",
                         "BUILDING", "MACHINERY")


# ---------------------------------------------------------------------------
# X137 — weighted median
# ---------------------------------------------------------------------------

@query(
    "weighted_median_lineitem",
    """
    WITH g AS (
      SELECT l_returnflag AS grp, l_extendedprice::DOUBLE AS v,
             count(*)::BIGINT AS c, sum(l_quantity)::DOUBLE AS wv
      FROM lineitem GROUP BY 1, 2),
    cumt AS (SELECT grp, v, wv,
                    sum(wv) OVER (PARTITION BY grp ORDER BY v
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cw
             FROM g),
    tot AS (SELECT grp, sum(c) AS n, sum(wv) AS tw FROM g GROUP BY 1)
    SELECT t.grp AS l_returnflag, t.n::BIGINT AS n,
           floor(t.tw * 10000 + 0.5) / 10000 AS total_w,
           floor(min(c2.v) * 10000 + 0.5) / 10000 AS wmedian
    FROM tot t JOIN cumt c2 ON c2.grp = t.grp AND c2.cw >= t.tw / 2
    GROUP BY 1, 2, 3
    """,
)
def weighted_median_lineitem(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X137 — quantity-weighted median extended price per return flag
    (``profiling.weighted_median``): the volume-weighted "typical
    price" an unweighted median gets wrong when line sizes vary.
    Ties collapse in a value-keyed pre-reduce, so the group-keyed
    cumulative window sees one row per distinct value and intra-tie
    order cannot matter."""
    from sync_cosmos_db_spark.operators.profiling import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(li, "l_returnflag", "l_extendedprice",
                           "l_quantity")


# ---------------------------------------------------------------------------
# X138 — per-source vs global quantile alignment
# ---------------------------------------------------------------------------

@query(
    "quantile_align_doc_lengths",
    """
    WITH pg AS (SELECT source AS grp,
                       quantile_cont(n_chars::DOUBLE,
                                     [0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9]) AS qs
                FROM documents GROUP BY 1),
    gl AS (SELECT quantile_cont(n_chars::DOUBLE,
                                [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS gqs
           FROM documents),
    e AS (SELECT grp, generate_subscripts(qs, 1) AS pos,
                 unnest(qs) AS gq
          FROM pg)
    SELECT e.grp AS source,
           ([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
              ::DOUBLE[])[e.pos] AS prob,
           floor(e.gq * 10000 + 0.5) / 10000 AS group_q,
           floor(gl.gqs[e.pos] * 10000 + 0.5) / 10000 AS global_q,
           floor((e.gq - gl.gqs[e.pos]) * 10000 + 0.5) / 10000
             AS shift
    FROM e, gl
    """,
)
def quantile_align_doc_lengths(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X138 — per-source vs global decile alignment of document
    lengths (``profiling.quantile_align``): the quantile-
    normalization / drift table (which source's length distribution
    is skewed, and by how much at each decile).  Exact interpolated
    ``percentile`` per group — memory O(distinct lengths), not
    O(rows); a 1-row global broadcast supplies the reference."""
    from sync_cosmos_db_spark.operators.profiling import quantile_align

    docs = load_table(spark, sf_dir, "documents")
    return quantile_align(docs, "source", "n_chars")


# ---------------------------------------------------------------------------
# X139 — Gini revenue concentration
# ---------------------------------------------------------------------------

@query(
    "gini_nation_revenue",
    """
    WITH rev AS (SELECT o_custkey,
                        sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0
                          AS v
                 FROM orders GROUP BY 1),
    j AS (SELECT c.c_nationkey AS grp,
                 floor(rev.v * 1000000 + 0.5)::BIGINT AS vi
          FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey),
    r AS (SELECT grp, vi,
                 row_number() OVER (PARTITION BY grp ORDER BY vi) AS i
          FROM j)
    SELECT grp AS c_nationkey, count(*)::BIGINT AS n,
           sum(vi)::BIGINT / 1000000.0 AS total,
           floor((2.0 * sum(i * vi)::DOUBLE
                  / (count(*)::DOUBLE * sum(vi)::DOUBLE)
                  - (count(*) + 1.0) / count(*)) * 1000000 + 0.5)
             / 1000000 AS gini
    FROM r GROUP BY 1
    """,
)
def gini_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139 — Gini coefficient (``profiling.gini``) of per-customer
    revenue inside each nation: the concentration audit (is one
    customer most of a nation's book?).  Per-customer revenue is
    rounded BEFORE ranking on both engines; Σ i·x is tie-order
    invariant, so the group-keyed sort needs no tiebreak for
    determinism."""
    from sync_cosmos_db_spark.operators.profiling import gini

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (orders.groupBy("o_custkey")
           .agg(fsum("o_totalprice", 2).alias("v")))
    j = rev.join(F.broadcast(cust),
                 rev["o_custkey"] == cust["c_custkey"])
    return gini(j, "c_nationkey", "v")


# ---------------------------------------------------------------------------
# X140 — per-source token-distribution KL divergence
# ---------------------------------------------------------------------------

@query(
    "source_kl_documents",
    """
    WITH gt AS (SELECT source AS g,
                       unnest(string_split_regex(text, '\\s+')) AS tok
                FROM documents),
    c1 AS (SELECT g, tok, count(*)::DOUBLE AS cgt
           FROM gt GROUP BY 1, 2),
    gtot AS (SELECT g, sum(cgt) AS tg FROM c1 GROUP BY 1),
    tokc AS (SELECT tok, sum(cgt) AS ct FROM c1 GROUP BY 1),
    tot AS (SELECT sum(ct) AS t FROM tokc)
    SELECT c1.g AS source, max(gtot.tg)::BIGINT AS n_tokens,
           floor(sum((cgt / tg) * ln((cgt / tg)
                                     / (ct / (SELECT t FROM tot))))
                 * 1000000 + 0.5) / 1000000 AS kl
    FROM c1
    JOIN tokc USING (tok)
    JOIN gtot USING (g)
    GROUP BY 1
    """,
)
def source_kl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X140 — KL(source ‖ corpus) over unigram token distributions
    (``text.source_kl``): vocab Jaccard (X122) says whether the words
    overlap; KL says whether their FREQUENCIES do — the
    mixture-design complement.  One (group, token) count, a
    token-keyed join to global counts derived from the same partials
    (no second scan), a 1-row total broadcast."""
    from sync_cosmos_db_spark.operators.text import source_kl

    docs = load_table(spark, sf_dir, "documents")
    return source_kl(docs, "source", "text")


# ---------------------------------------------------------------------------
# X141 — recursive-CTE reachability (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src,
         CAST((n_nationkey * 3 + 1) % 25 AS BIGINT) AS dst
  FROM {nation}
  UNION ALL
  SELECT CAST(n_nationkey AS BIGINT),
         CAST((n_nationkey + 7) % 25 AS BIGINT)
  FROM {nation}),
reach AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
  UNION ALL
  SELECT e.dst, r.hops + CAST(1 AS BIGINT)
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hops < 6)
SELECT node, MIN(hops) AS min_hops, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM reach GROUP BY node
"""


@query("recursive_reach_nations", _REACH_SQL.format(nation="nation"))
def recursive_reach_nations(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X141 — bounded-depth reachability via Spark 4's native
    ``WITH RECURSIVE`` (A9 SQL-frontend parity: the IDENTICAL SQL
    text runs on both engines): min-hops and path counts from node 0
    over a deterministic out-degree-2 graph on the nation keys,
    recursion capped at 6 hops.  The declarative twin of the
    DataFrame BFS (X90) — X90 remains the at-scale form (explicit
    per-round persist + dedup keeps the frontier linear; naive
    UNION ALL recursion enumerates paths, fine only under a hop cap
    on a bounded graph like this catalog-sized one)."""
    load_table(spark, sf_dir, "nation") \
        .createOrReplaceTempView("nation_x141")
    return spark.sql(_REACH_SQL.format(nation="nation_x141"))


# ---------------------------------------------------------------------------
# X142 — inter-arrival burstiness
# ---------------------------------------------------------------------------

@query(
    "burstiness_user_events",
    """
    WITH g AS (
      SELECT user_id,
             epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events),
    f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
    m AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
                 floor(avg(gap) * 100 + 0.5) / 100 AS mu
          FROM f GROUP BY 1),
    s AS (SELECT f.user_id, m.n_gaps, m.mu,
                 floor(sqrt(sum((f.gap - m.mu) * (f.gap - m.mu))
                            / (m.n_gaps - 1)) * 100 + 0.5) / 100 AS sd
          FROM f JOIN m USING (user_id)
          WHERE m.n_gaps >= 2
          GROUP BY 1, 2, 3)
    SELECT user_id, n_gaps, mu AS mean_gap, sd AS std_gap,
           CASE WHEN sd + mu <> 0
                THEN floor((sd - mu) / (sd + mu) * 1000000 + 0.5)
                     / 1000000
           END AS b
    FROM s
    """,
)
def burstiness_user_events(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X142 — inter-arrival burstiness per user
    (``behavioral.burstiness``): B = (σ−μ)/(σ+μ) over consecutive
    event gaps — −1 metronome, ≈0 Poisson, →1 bursty; the
    bot-vs-human / retry-storm signature.  One user-keyed lag window
    + a two-pass moment reduce; μ̂ is rounded before the variance
    pass and σ from the explicit Σ(d−μ̂)² formula on both engines."""
    from sync_cosmos_db_spark.operators.behavioral import burstiness

    ev = load_table(spark, sf_dir, "events")
    return burstiness(ev, "user_id", "ts", "event_id")


# ===========================================================================
# merged from queries_r6c.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-6 operator families (third batch) X143-X147: CUSUM drift
detection, maximum drawdown, markdown structure profiling, mutual
information, and calibration reliability bins.

The CUSUM oracle is a DuckDB recursive CTE replaying the identical
sequential fold — the one operator family here that is inherently
order-dependent; both engines execute the same adds/maxes in the same
order over the same rounded inputs, so the states agree bit-exactly.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X143 — two-sided CUSUM drift detector
# ---------------------------------------------------------------------------

@query(
    "cusum_daily_revenue",
    # r13: s/prm/i pinned MATERIALIZED — the ~2400-step day recursion
    # otherwise re-evaluates the un-materialized orders aggregation
    # chain EVERY step (the twins' closure lesson applied to a
    # sequential replay): 22.8 s -> 1.6 s at sf0.1, rows identical.
    # The recursion itself stays — replaying the LITERAL sequential
    # form against Spark's closed-form prefix scan is this oracle's
    # entire point.
    """
    WITH RECURSIVE s AS MATERIALIZED (
      SELECT o_orderdate::DATE AS day,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) * 100 AS vi
      FROM orders GROUP BY 1),
    prm AS MATERIALIZED (
            SELECT floor(sum(vi)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT
                     AS mui,
                   floor(sqrt((sum(vi::HUGEINT * vi)::DOUBLE
                               - sum(vi)::DOUBLE * sum(vi)::DOUBLE
                                 / count(*)::DOUBLE)
                              / (count(*)::DOUBLE - 1)) * 0.5 + 0.5)::BIGINT
                     AS ki,
                   floor(sqrt((sum(vi::HUGEINT * vi)::DOUBLE
                               - sum(vi)::DOUBLE * sum(vi)::DOUBLE
                                 / count(*)::DOUBLE)
                              / (count(*)::DOUBLE - 1)) * 4.0 + 0.5)::BIGINT
                     AS hi
            FROM s),
    i AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY day) AS i, day, vi
          FROM s),
    c AS (
      SELECT i.i, i.day, i.vi,
             greatest(0, i.vi - prm.mui - prm.ki)::BIGINT AS sp,
             greatest(0, prm.mui - i.vi - prm.ki)::BIGINT AS sn
      FROM i, prm WHERE i.i = 1
      UNION ALL
      SELECT i.i, i.day, i.vi,
             greatest(0, c.sp + i.vi - prm.mui - prm.ki)::BIGINT,
             greatest(0, c.sn + prm.mui - i.vi - prm.ki)::BIGINT
      FROM c JOIN i ON i.i = c.i + 1 CROSS JOIN prm)
    SELECT day, vi / 10000.0 AS v,
           sp / 10000.0 AS s_pos, sn / 10000.0 AS s_neg,
           sp > (SELECT hi FROM prm) AS alarm_pos,
           sn > (SELECT hi FROM prm) AS alarm_neg
    FROM c
    """,
)
def cusum_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X143 — two-sided CUSUM (``profiling.cusum``) over daily order
    revenue: the sequential drift detector that accumulates small
    deviations a mean-shift scan (X121) misses.  The Spark side runs
    the distributed prefix-scan closed form (cumsum + running min,
    ONE ordered window); the oracle replays the literal sequential
    recursion as a recursive CTE.  Both compute in INTEGER 10⁻⁴
    units, so the two mechanisms are provably bit-equal — the
    strongest cross-engine evidence shape in the registry: different
    algorithm, same exact arithmetic."""
    from sync_cosmos_db_spark.operators.profiling import cusum

    orders = load_table(spark, sf_dir, "orders")
    series = (orders
              .groupBy(F.to_date(F.col("o_orderdate")).alias("day"))
              .agg(fsum("o_totalprice", 2).alias("rev")))
    return cusum(series, "day", "rev", k_mult=0.5, h_mult=4.0)


# ---------------------------------------------------------------------------
# X144 — maximum drawdown of excess revenue
# ---------------------------------------------------------------------------

@query(
    "max_drawdown_priority_revenue",
    """
    WITH s AS (
      SELECT o_orderpriority AS g, o_orderdate::DATE AS day,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) * 100 AS ri
      FROM orders GROUP BY 1, 2),
    m AS (SELECT g,
                 floor(sum(ri)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT
                   AS mi
          FROM s GROUP BY 1),
    x AS (SELECT s.g, s.day, (s.ri - m.mi)::BIGINT AS vi
          FROM s JOIN m USING (g)),
    c AS (SELECT g, day, vi,
                 (sum(vi) OVER (PARTITION BY g ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW))::BIGINT AS cum
          FROM x),
    d AS (SELECT g, day, vi, cum,
                 max(cum) OVER (PARTITION BY g ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - cum AS dd
          FROM c),
    e AS (SELECT *, max(dd) OVER (PARTITION BY g) AS mdd FROM d)
    SELECT g AS o_orderpriority, count(*)::BIGINT AS n_periods,
           sum(vi)::BIGINT / 10000.0 AS final_value,
           max(mdd)::BIGINT / 10000.0 AS max_drawdown,
           min(CASE WHEN dd = mdd THEN day END) AS trough_day
    FROM e GROUP BY 1
    """,
)
def max_drawdown_priority_revenue(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """X144 — maximum drawdown (``temporal.max_drawdown``) of daily
    excess revenue (revenue minus the priority's own run-rate) per
    order priority: the deepest cumulative shortfall and the day it
    bottomed — the resilience readout for a revenue stream.  ONE
    group-keyed sort carries the cumulative sum, its running max,
    and the whole-group max; values rounded before the cumulative
    pass on both engines."""
    from sync_cosmos_db_spark.operators.temporal import max_drawdown

    orders = load_table(spark, sf_dir, "orders")
    p = 10 ** 4
    s = (orders
         .groupBy(F.col("o_orderpriority").alias("g"),
                  F.to_date(F.col("o_orderdate")).alias("day"))
         .agg(fsum("o_totalprice", 2).alias("rev")))
    ri = F.floor(F.col("rev") * p + F.lit(0.5)).cast("long")
    m = s.groupBy("g").agg(
        (F.floor(F.sum(ri).cast("double") / F.count("*")
                 + F.lit(0.5)) / p).alias("mrev"))
    x = (s.join(F.broadcast(m), "g")
         .select(F.col("g").alias("o_orderpriority"), F.col("day"),
                 (F.col("rev") - F.col("mrev")).alias("v")))
    return max_drawdown(x, "o_orderpriority", "day", "v")


# ---------------------------------------------------------------------------
# X145 — markdown structure profile
# ---------------------------------------------------------------------------

@query(
    "markdown_profile_documents",
    """
    WITH fix AS (
      SELECT source, doc_id,
             text
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || '# Title' || chr(10) || '## Sub'
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN chr(10) || '- a' || chr(10) || '- b'
                            || chr(10) || '* c'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN chr(10) || '| x | y |'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN chr(10) || '```' || chr(10) || 'code'
                            || chr(10) || '```'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN chr(10) || '```'
                       ELSE '' END AS txt
      FROM documents),
    d AS (
      SELECT source,
             len(list_filter(string_split(txt, chr(10)),
                             x -> starts_with(x, '#'))) AS nh,
             len(list_filter(string_split(txt, chr(10)),
                             x -> starts_with(x, '- ')
                                  OR starts_with(x, '* '))) AS nl,
             len(list_filter(string_split(txt, chr(10)),
                             x -> starts_with(x, '|'))) AS nt,
             len(list_filter(string_split(txt, chr(10)),
                             x -> starts_with(x, '```'))) AS nf
      FROM fix)
    SELECT source, count(*)::BIGINT AS n_docs,
           floor(avg(CASE WHEN nh > 0 THEN 1.0 ELSE 0.0 END) * 10000
                 + 0.5) / 10000 AS frac_with_header,
           floor(avg(CASE WHEN nl > 0 THEN 1.0 ELSE 0.0 END) * 10000
                 + 0.5) / 10000 AS frac_with_list,
           floor(avg(CASE WHEN nt > 0 THEN 1.0 ELSE 0.0 END) * 10000
                 + 0.5) / 10000 AS frac_with_table,
           floor(avg(CASE WHEN nf > 0 THEN 1.0 ELSE 0.0 END) * 10000
                 + 0.5) / 10000 AS frac_with_code,
           floor(avg(nh) * 10000 + 0.5) / 10000 AS avg_header_lines,
           floor(avg(nl) * 10000 + 0.5) / 10000 AS avg_list_lines,
           sum(CASE WHEN nf % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT
             AS unbalanced_fence_docs
    FROM d GROUP BY 1
    """,
)
def markdown_profile_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X145 — markdown structure profile per source
    (``text.markdown_structure_profile``): headers / lists / tables /
    fenced code and unbalanced fences — the curation signal that
    separates prose from structured docs (code-heavy sources train
    differently; unbalanced fences flag truncation victims).  The
    harness corpus is plain prose, so structures are injected
    deterministically in-query (doc_id mod k), same discipline as
    the X123 PII injection.  Pure in-row array ops, zero shuffle
    before the per-source reduce."""
    from sync_cosmos_db_spark.operators.text import (
        markdown_structure_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("\n# Title\n## Sub")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("\n- a\n- b\n* c")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("\n| x | y |")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("\n```\ncode\n```")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("\n```")).otherwise(F.lit("")))
    fixed = docs.select("source", txt.alias("txt"))
    return markdown_structure_profile(fixed, "source", "txt")


# ---------------------------------------------------------------------------
# X146 — mutual information between categoricals
# ---------------------------------------------------------------------------

@query(
    "mutual_info_priority_status",
    """
    WITH ab AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                       count(*)::DOUBLE AS cab
                FROM orders GROUP BY 1, 2),
    ma AS (SELECT a, sum(cab) AS ca FROM ab GROUP BY 1),
    mb AS (SELECT b, sum(cab) AS cb FROM ab GROUP BY 1),
    tot AS (SELECT sum(cab) AS n FROM ab)
    SELECT max(n)::BIGINT AS n,
           floor(-sum((cab / n) * ln(ca / n)) * 1000000 + 0.5)
             / 1000000 AS h_a,
           floor(-sum((cab / n) * ln(cb / n)) * 1000000 + 0.5)
             / 1000000 AS h_b,
           floor(-sum((cab / n) * ln(cab / n)) * 1000000 + 0.5)
             / 1000000 AS h_ab,
           floor(sum((cab / n) * ln(cab * n / (ca * cb))) * 1000000
                 + 0.5) / 1000000 AS mi
    FROM ab JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
    """,
)
def mutual_info_priority_status(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X146 — mutual information (``profiling.mutual_information``)
    between order priority and status, with marginal and joint
    entropies: the dependence measure that catches what χ² (X73)
    only hypothesis-tests and categorical correlation cannot
    express.  ONE (a, b)-keyed count; marginals derive from the same
    partials; 1-row total broadcast."""
    from sync_cosmos_db_spark.operators.profiling import (
        mutual_information,
    )

    orders = load_table(spark, sf_dir, "orders")
    return mutual_information(orders, "o_orderpriority",
                              "o_orderstatus")


# ---------------------------------------------------------------------------
# X147 — calibration reliability bins
# ---------------------------------------------------------------------------

@query(
    "calibration_bins_events",
    """
    WITH sc AS (
      SELECT translate(substr(sha256(event_id::VARCHAR || ':cal'),
                              1, 6), 'abcdef', '012345')::BIGINT
               % 1000 / 1000.0 AS score,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
               AS y
      FROM events)
    SELECT least(floor(score * 10), 9)::BIGINT AS bin,
           count(*)::BIGINT AS n,
           floor(avg(score) * 1000000 + 0.5) / 1000000 AS avg_score,
           floor(avg(y) * 1000000 + 0.5) / 1000000 AS pos_rate,
           floor(abs(avg(score) - avg(y)) * 1000000 + 0.5) / 1000000
             AS gap
    FROM sc GROUP BY 1
    """,
)
def calibration_bins_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X147 — calibration reliability bins: decile-binned predicted
    score vs realized positive rate — the reliability-diagram table
    behind ECE, the standard eval for any probabilistic classifier
    the pipeline trains.  The score is a deterministic sha2 uniform
    (the harness has no model; the MATH is what's verified), the
    outcome is real (event_type = purchase).  One scan, ten-row
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    score = (F.pmod(
        F.translate(F.substring(
            F.sha2(F.concat(F.col("event_id").cast("string"),
                            F.lit(":cal")), 256), 1, 6),
            "abcdef", "012345").cast("bigint"), F.lit(1000)) / 1000.0)
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    p = 10 ** 6
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    return (ev.select(score.alias("score"), y.alias("y"))
            .groupBy(F.least(F.floor(F.col("score") * 10), F.lit(9))
                     .cast("long").alias("bin"))
            .agg(F.count("*").cast("long").alias("n"),
                 fr(F.avg("score")).alias("avg_score"),
                 fr(F.avg("y")).alias("pos_rate"),
                 fr(F.abs(F.avg("score") - F.avg("y"))).alias("gap")))


# ===========================================================================
# merged from queries_r6d.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-6 operator families (fourth batch) X148-X152: min-label
propagation, bounded k-core peeling, TF-IDF keyword extraction,
quantile normalization, and transition dwell-time profiling.

The two graph oracles use the same ring-chord document graph as X125
(clustering coefficient); the label-propagation oracle recomputes
"min id within k hops" by a recursive CTE — a different mechanism
than the Spark round loop, same answer.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table

# the shared deterministic doc graph (X125's rules), symmetric closure
_GRAPH_CTE = """
    raw AS (
      SELECT doc_id AS s, (doc_id * 7 + 3) % 500 AS d FROM documents
      UNION ALL
      SELECT doc_id, (doc_id + 1) % 500 FROM documents
      UNION ALL
      SELECT doc_id, (doc_id + 2) % 500 FROM documents),
    e AS (SELECT DISTINCT s, d FROM (
            SELECT s, d FROM raw
            UNION ALL
            SELECT d, s FROM raw)
          WHERE s <> d)
"""


def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE documents scan (round 15): the previous 3-way union of
    # per-target selects, then unioned again with its own swap,
    # scanned documents six times per consumption — and the iterative
    # consumers (label propagation, k-core) consumed the edge plan
    # once per round on top.  explode emits the 3 targets from one
    # scan; graph.symmetrize adds both directions in the same pass
    # (the connected_components explode pattern).
    from sync_cosmos_db_spark.operators.graph import symmetrize

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        F.col("doc_id").alias("s"),
        F.explode(F.array((F.col("doc_id") * 7 + 3) % 500,
                          (F.col("doc_id") + 1) % 500,
                          (F.col("doc_id") + 2) % 500)).alias("d"))
    sym = symmetrize(raw, "s", "d")
    return (sym.filter(F.col("s") != F.col("d")).distinct()
            .select(F.col("s").alias("src"), F.col("d").alias("dst")))


# ---------------------------------------------------------------------------
# X148 — bounded-round minimum-label propagation
# ---------------------------------------------------------------------------

@query(
    "label_propagation_docs",
    f"""
    WITH RECURSIVE {_GRAPH_CTE},
    nodes AS (SELECT DISTINCT s AS node FROM e
              UNION SELECT d FROM e),
    r AS (
      SELECT node AS v, node AS u, 0 AS hops FROM nodes
      UNION
      SELECT r.v, e.s, r.hops + 1
      FROM r JOIN e ON e.d = r.u WHERE r.hops < 3)
    SELECT v::BIGINT AS node, min(u)::BIGINT AS label
    FROM r GROUP BY v
    """,
)
def label_propagation_docs(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X148 — min-label propagation
    (``graph.min_label_propagation``, 3 rounds) over the symmetric
    doc graph: each node's label converges to the minimum node id
    within 3 hops — bounded-horizon community seeds, the building
    block of distributed connected components.  The Spark loop is
    one src-keyed join + one dst-keyed min + one node-keyed merge
    per round (localCheckpoint lineage truncation); the oracle
    recomputes min-id-within-k-hops by recursive CTE — different
    mechanism, same answer."""
    from sync_cosmos_db_spark.operators.graph import (
        min_label_propagation,
    )

    edges = _doc_edges(spark, sf_dir)
    out = min_label_propagation(edges, rounds=3)
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("label").cast("long").alias("label"))


# ---------------------------------------------------------------------------
# X149 — bounded-round k-core peeling
# ---------------------------------------------------------------------------

@query(
    "kcore_docs",
    f"""
    WITH {_GRAPH_CTE},
    d1 AS (SELECT s AS node, count(*) AS deg FROM e GROUP BY 1),
    k1 AS (SELECT node FROM d1 WHERE deg >= 6),
    e1 AS (SELECT e.s, e.d FROM e
           JOIN k1 a ON a.node = e.s JOIN k1 b ON b.node = e.d),
    d2 AS (SELECT s AS node, count(*) AS deg FROM e1 GROUP BY 1),
    k2 AS (SELECT node FROM d2 WHERE deg >= 6),
    e2 AS (SELECT e1.s, e1.d FROM e1
           JOIN k2 a ON a.node = e1.s JOIN k2 b ON b.node = e1.d),
    d3 AS (SELECT s AS node, count(*) AS deg FROM e2 GROUP BY 1),
    k3 AS (SELECT node FROM d3 WHERE deg >= 6),
    e3 AS (SELECT e2.s, e2.d FROM e2
           JOIN k3 a ON a.node = e2.s JOIN k3 b ON b.node = e2.d)
    SELECT s::BIGINT AS node, count(*)::BIGINT AS degree
    FROM e3 GROUP BY 1
    """,
)
def kcore_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X149 — bounded k-core peeling (``graph.k_core``, k=6, 3
    rounds) on the symmetric doc graph: iteratively drop nodes with
    induced degree < 6 — the cohesion filter that separates a dense
    community from a hub-and-pendants star.  Per round one degree
    count + two semi-joins, localCheckpoint-truncated; the oracle
    unrolls the identical 3 peels as chained CTEs."""
    from sync_cosmos_db_spark.operators.graph import k_core

    edges = _doc_edges(spark, sf_dir)
    out = k_core(edges, k=6, rounds=3)
    return out.select(F.col("node").cast("long").alias("node"),
                      "degree")


# ---------------------------------------------------------------------------
# X150 — TF-IDF top-k keyword extraction
# ---------------------------------------------------------------------------

@query(
    "tfidf_keywords_documents",
    """
    WITH tf AS (
      SELECT doc_id AS doc, tok AS token, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents)
      GROUP BY 1, 2),
    dfq AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc)::DOUBLE AS n FROM tf),
    sc AS (SELECT doc, token,
                  floor(tf * ln((SELECT n FROM n) / df) * 1000000
                        + 0.5) / 1000000 AS score
           FROM tf JOIN dfq USING (token))
    SELECT doc, rank::BIGINT AS rank, token, score FROM (
      SELECT doc, token, score,
             row_number() OVER (PARTITION BY doc
                                ORDER BY score DESC, token) AS rank
      FROM sc)
    WHERE rank <= 3
    """,
)
def tfidf_keywords_documents(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X150 — top-3 TF-IDF keywords per document
    (``retrieval.tfidf_top_terms``): the cheap extractive tagger.
    Scores are floor-rounded BEFORE ranking with (score desc, token
    asc) tie-break, so the per-doc top-k window is
    engine-deterministic; WindowGroupLimit ships only 3 rows per doc
    past the sort."""
    from sync_cosmos_db_spark.operators.retrieval import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", top_k=3)


# ---------------------------------------------------------------------------
# X151 — quantile normalization transform
# ---------------------------------------------------------------------------

@query(
    "quantile_normalize_doc_lengths",
    """
    WITH base AS (SELECT doc_id AS id, source AS g,
                         n_chars::DOUBLE AS v
                  FROM documents),
    rk AS (SELECT *,
                  row_number() OVER (PARTITION BY g ORDER BY v, id)
                    AS rk,
                  row_number() OVER (ORDER BY v, id) AS gi
           FROM base),
    sz AS (SELECT g, count(*) AS ng FROM base GROUP BY 1),
    nt AS (SELECT count(*) AS nt FROM base),
    px AS (SELECT rk.id, rk.g, rk.v,
                  CASE WHEN sz.ng > 1
                       THEN (rk.rk - 1.0) / (sz.ng - 1.0)
                            * ((SELECT nt FROM nt) - 1)
                       ELSE ((SELECT nt FROM nt) - 1) / 2.0
                  END AS pos
           FROM rk JOIN sz USING (g)),
    ix AS (SELECT *,
                  floor(pos)::BIGINT + 1 AS lo,
                  least(floor(pos)::BIGINT + 2,
                        (SELECT nt FROM nt)) AS hi,
                  pos - floor(pos) AS frac
           FROM px)
    SELECT ix.id AS id, ix.g AS source, ix.v AS n_chars,
           floor((glo.v + ix.frac * (ghi.v - glo.v)) * 10000 + 0.5)
             / 10000 AS mapped
    FROM ix
    JOIN rk glo ON glo.gi = ix.lo
    JOIN rk ghi ON ghi.gi = ix.hi
    """,
)
def quantile_normalize_doc_lengths(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """X151 — quantile normalization (``curation.quantile_normalize``)
    of document lengths across sources: each source's length
    distribution is mapped by rank onto the global one — X138
    reports the per-decile skew, this APPLIES the fix.  Two ordered
    windows + equi-joins on global order-statistic positions; the
    global sort is the honest cost of exact mapping (the X82
    boundary-broadcast deciles are the approximate substitute at
    unbounded scale)."""
    from sync_cosmos_db_spark.operators.curation import quantile_normalize

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(docs, "source", "doc_id", "n_chars")


# ---------------------------------------------------------------------------
# X152 — transition dwell-time profile
# ---------------------------------------------------------------------------

@query(
    "transition_dwell_events",
    """
    WITH g AS (
      SELECT user_id, event_type,
             lag(event_type) OVER w AS from_type,
             floor((epoch(ts) - lag(epoch(ts)) OVER w) * 100 + 0.5)
               / 100 AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT from_type, event_type AS to_type, count(*)::BIGINT AS n,
           floor(avg(gap) * 100 + 0.5) / 100 AS mean_s,
           floor(quantile_cont(gap, 0.5) * 100 + 0.5) / 100 AS p50_s,
           floor(quantile_cont(gap, 0.9) * 100 + 0.5) / 100 AS p90_s
    FROM g WHERE from_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def transition_dwell_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X152 — transition dwell-time profile
    (``behavioral.transition_dwell``): per (from, to) event
    transition, mean / median / p90 of the dwell — the timing
    companion of the X26 Markov counts (where users go vs how long
    they hesitate).  ONE user-keyed lag window, one
    transition-keyed aggregate; gaps round at 1e-2 s before any
    aggregation on both engines."""
    from sync_cosmos_db_spark.operators.behavioral import transition_dwell

    ev = load_table(spark, sf_dir, "events")
    return transition_dwell(ev, "user_id", "ts", "event_type",
                            "event_id")


# ===========================================================================
# merged from queries_r6e.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-6 operator families (fifth batch) X153-X155: l-diversity
audit, t-closeness (EMD) audit, and time-constrained funnel
conversion — the privacy-release pair that completes the
k-anonymity gate (X104), plus the funnel variant marketing actually
asks for ("converted WITHIN an hour", not "ever").
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_persist
from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X153 — l-diversity audit
# ---------------------------------------------------------------------------

@query(
    "l_diversity_customers",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             count(*)::BIGINT AS grp,
             count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                 WHEN c_acctbal < 5000 THEN 'mid'
                                 ELSE 'high' END)::BIGINT AS n_sensitive
      FROM customer GROUP BY 1, 2)
    SELECT count(*)::BIGINT AS n_groups,
           sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END)::BIGINT
             AS n_undiverse_groups,
           sum(CASE WHEN n_sensitive < 3 THEN grp ELSE 0 END)::BIGINT
             AS n_exposed_rows,
           min(n_sensitive) AS min_diversity,
           sum(grp)::BIGINT AS n_rows
    FROM g
    """,
)
def l_diversity_customers(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X153 — l-diversity audit over the (nationkey, mktsegment)
    quasi-identifier with a bucketed account-balance sensitive
    attribute: k-anonymity (X104) counts group SIZES, but a large
    group whose members all share one sensitive value still leaks it
    (homogeneity attack) — l-diversity requires ≥ l distinct
    sensitive values per equivalence class.  One quasi-id-keyed
    count-distinct plus a constant-size re-aggregate — the same
    shuffle shape as X104, auditing the orthogonal failure mode."""
    c = load_table(spark, sf_dir, "customer")
    sens = (F.when(F.col("c_acctbal") < 0, "neg")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
    g = (c.groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count(F.lit(1)).cast("long").alias("grp"),
              F.countDistinct(sens).cast("long").alias("n_sensitive")))
    undiv = F.col("n_sensitive") < 3
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(undiv.cast("long")).cast("long")
        .alias("n_undiverse_groups"),
        F.sum(F.when(undiv, F.col("grp")).otherwise(0)).cast("long")
        .alias("n_exposed_rows"),
        F.min("n_sensitive").alias("min_diversity"),
        F.sum("grp").cast("long").alias("n_rows"))


# ---------------------------------------------------------------------------
# X154 — t-closeness (ordered EMD) audit
# ---------------------------------------------------------------------------

@query(
    "t_closeness_customers",
    """
    WITH b AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal < 2500 THEN 1
                  WHEN c_acctbal < 5000 THEN 2
                  WHEN c_acctbal < 7500 THEN 3
                  ELSE 4 END AS bucket
      FROM customer),
    cell AS (SELECT c_nationkey, c_mktsegment, bucket,
                    count(*)::DOUBLE AS c
             FROM b GROUP BY 1, 2, 3),
    grid AS (
      SELECT g.c_nationkey, g.c_mktsegment, bk.bucket,
             coalesce(cell.c, 0) AS c, g.n
      FROM (SELECT c_nationkey, c_mktsegment, sum(c) AS n
            FROM cell GROUP BY 1, 2) g
      CROSS JOIN (SELECT DISTINCT bucket FROM b) bk
      LEFT JOIN cell USING (c_nationkey, c_mktsegment, bucket)),
    gl AS (SELECT bucket, sum(c) AS gc FROM cell GROUP BY 1),
    gt AS (SELECT sum(gc) AS t FROM gl),
    dev AS (
      SELECT grid.c_nationkey, grid.c_mktsegment, grid.bucket,
             sum(grid.c / grid.n - gl.gc / (SELECT t FROM gt))
               OVER (PARTITION BY grid.c_nationkey, grid.c_mktsegment
                     ORDER BY grid.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cumdev
      FROM grid JOIN gl USING (bucket)),
    emd AS (
      SELECT c_nationkey, c_mktsegment,
             floor(avg(abs(cumdev)) * 1000000 + 0.5) / 1000000
               AS t_dist
      FROM dev GROUP BY 1, 2)
    SELECT count(*)::BIGINT AS n_groups,
           sum(CASE WHEN t_dist > 0.2 THEN 1 ELSE 0 END)::BIGINT
             AS n_far_groups,
           floor(max(t_dist) * 1000000 + 0.5) / 1000000 AS max_t,
           floor(avg(t_dist) * 1000000 + 0.5) / 1000000 AS mean_t
    FROM emd
    """,
)
def t_closeness_customers(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X154 — t-closeness audit: per quasi-identifier group, the
    earth-mover's distance between the group's sensitive-attribute
    distribution and the GLOBAL one (for an ordered attribute, EMD =
    mean |cumulative difference| over buckets) — the strictest of
    the release gates: a group can be k-anonymous AND l-diverse yet
    still skew so far from the corpus that membership leaks
    information.  Per-group bucket counts → a dense (group × bucket)
    grid (missing cells zero-filled via a |buckets|-sized cross
    join) → ONE group-keyed cumulative window over the ordered
    buckets → constant-size report."""
    c = load_table(spark, sf_dir, "customer")
    bucket = (F.when(F.col("c_acctbal") < 0, 0)
              .when(F.col("c_acctbal") < 2500, 1)
              .when(F.col("c_acctbal") < 5000, 2)
              .when(F.col("c_acctbal") < 7500, 3)
              .otherwise(4))
    b = c.select("c_nationkey", "c_mktsegment", bucket.alias("bucket"))
    cell = (b.groupBy("c_nationkey", "c_mktsegment", "bucket")
            .agg(F.count("*").cast("double").alias("c")))
    # scope-registered (returned plan reads cell three ways);
    # released by the harness via cache_scope.release_persisted()
    cell = scoped_persist(cell)
    grp = (cell.groupBy("c_nationkey", "c_mktsegment")
           .agg(F.sum("c").alias("n")))
    buckets = b.select("bucket").distinct()
    gl = cell.groupBy("bucket").agg(F.sum("c").alias("gc"))
    gt = gl.agg(F.sum("gc").alias("t"))
    grid = (grp.crossJoin(F.broadcast(buckets))
            .join(cell, ["c_nationkey", "c_mktsegment", "bucket"],
                  "left")
            .withColumn("c", F.coalesce("c", F.lit(0.0)))
            .join(F.broadcast(gl), "bucket")
            .crossJoin(F.broadcast(gt)))
    w = (Window.partitionBy("c_nationkey", "c_mktsegment")
         .orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cumdev = F.sum(F.col("c") / F.col("n")
                   - F.col("gc") / F.col("t")).over(w)
    p = 10 ** 6
    fr = lambda x: F.floor(x * p + F.lit(0.5)) / p  # noqa: E731
    emd = (grid.withColumn("cumdev", cumdev)
           .groupBy("c_nationkey", "c_mktsegment")
           .agg(fr(F.avg(F.abs(F.col("cumdev")))).alias("t_dist")))
    return emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("t_dist") > 0.2).cast("long")).cast("long")
        .alias("n_far_groups"),
        fr(F.max("t_dist")).alias("max_t"),
        fr(F.avg("t_dist")).alias("mean_t"))


# ---------------------------------------------------------------------------
# X155 — time-constrained funnel conversion
# ---------------------------------------------------------------------------

@query(
    "funnel_within_1h_events",
    """
    WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT v.user_id, v.t0, min(e.ts) AS t1
          FROM v JOIN events e
            ON e.user_id = v.user_id
           AND e.event_type = 'click' AND e.ts > v.t0
          GROUP BY 1, 2),
    p AS (SELECT c.user_id, c.t1, min(e.ts) AS t2
          FROM c JOIN events e
            ON e.user_id = c.user_id
           AND e.event_type = 'purchase' AND e.ts > c.t1
          GROUP BY 1, 2)
    SELECT (SELECT count(*) FROM v)::BIGINT AS n_step0,
           (SELECT count(*) FROM c)::BIGINT AS n_step1,
           (SELECT count(*) FROM c
            WHERE epoch(t1) - epoch(t0) <= 3600)::BIGINT
             AS n_step1_within,
           (SELECT count(*) FROM p)::BIGINT AS n_step2,
           (SELECT count(*) FROM p JOIN c USING (user_id, t1)
            WHERE epoch(t2) - epoch(t0) <= 3600)::BIGINT
             AS n_step2_within
    """,
)
def funnel_within_1h_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X155 — time-constrained funnel: view → click → purchase where
    the WHOLE funnel completes within one hour of the first view —
    the conversion-SLA readout (an unbounded funnel, X26, calls a
    purchase three weeks later a conversion; campaigns do not).
    Reuses ``behavioral.funnel_times`` (k user-keyed min-aggregates,
    state one row per surviving user) and applies the window
    predicate on the timestamp table — the constraint costs zero
    extra shuffles."""
    from sync_cosmos_db_spark.operators.behavioral import funnel_times

    ev = load_table(spark, sf_dir, "events")
    t = funnel_times(ev, ["view", "click", "purchase"])
    el1 = F.col("t1").cast("double") - F.col("t0").cast("double")
    el2 = F.col("t2").cast("double") - F.col("t0").cast("double")
    return t.agg(
        F.count("t0").cast("long").alias("n_step0"),
        F.count("t1").cast("long").alias("n_step1"),
        F.sum(F.when(el1 <= 3600, 1).otherwise(0)).cast("long")
        .alias("n_step1_within"),
        F.count("t2").cast("long").alias("n_step2"),
        F.sum(F.when(el2 <= 3600, 1).otherwise(0)).cast("long")
        .alias("n_step2_within"))


# ===========================================================================
# merged from queries_r6f.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-6 operator families (sixth batch) X157-X159: STL-lite
seasonal decomposition, an autocomplete prefix index, and the 2-D
Pareto frontier (skyline)."""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X157 — STL-lite decomposition (trend / weekly seasonal / residual)
# ---------------------------------------------------------------------------

@query(
    "decompose_daily_events",
    """
    WITH s AS (SELECT ts::DATE AS day, count(*)::DOUBLE AS v
               FROM events GROUP BY 1),
    tr AS (SELECT day, v,
                  CASE WHEN count(*) OVER w7 = 7
                       THEN floor(avg(v) OVER w7 * 1000000 + 0.5)
                            / 1000000
                  END AS trend
           FROM s
           WINDOW w7 AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    dt AS (SELECT *, dayofweek(day) AS dow, v - trend AS det
           FROM tr),
    se AS (SELECT dow,
                  floor(avg(det) * 1000000 + 0.5) / 1000000 AS seasonal
           FROM dt WHERE det IS NOT NULL GROUP BY 1)
    SELECT dt.day, dt.v, dt.trend, se.seasonal,
           CASE WHEN dt.trend IS NOT NULL
                THEN floor((dt.v - dt.trend - se.seasonal) * 1000000
                           + 0.5) / 1000000
           END AS residual
    FROM dt JOIN se USING (dow)
    """,
)
def decompose_daily_events(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X157 — STL-lite decomposition of the daily event-count series:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-day-of-week mean of the detrended series,
    residual = the rest — the additive decomposition behind every
    "is this drop seasonal or real?" question, feeding the drift and
    changepoint detectors (X79, X121, X143) a deseasonalized input.
    The raw stream collapses to one row per day first; the trend
    rides ONE ordered window, the seasonal is a 7-row broadcast
    join.  Trend is rounded BEFORE detrending on both engines."""
    ev = load_table(spark, sf_dir, "events")
    p = 10 ** 6
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    s = (ev.groupBy(F.to_date("ts").alias("day"))
         .agg(F.count("*").cast("double").alias("v")))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = s.withColumn(
        "trend",
        F.when(F.count("*").over(w7) == 7, fr(F.avg("v").over(w7))))
    dt = tr.withColumn("dow", F.dayofweek("day")) \
           .withColumn("det", F.col("v") - F.col("trend"))
    se = (dt.filter(F.col("det").isNotNull())
          .groupBy("dow").agg(fr(F.avg("det")).alias("seasonal")))
    return (dt.join(F.broadcast(se), "dow")
            .select("day", "v", "trend", "seasonal",
                    F.when(F.col("trend").isNotNull(),
                           fr(F.col("v") - F.col("trend")
                              - F.col("seasonal"))).alias("residual")))


# ---------------------------------------------------------------------------
# X158 — autocomplete prefix index
# ---------------------------------------------------------------------------

@query(
    "prefix_index_documents",
    """
    WITH tf AS (
      SELECT tok, count(*)::BIGINT AS freq
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY 1),
    px AS (
      SELECT substr(tok, 1, pl.l) AS prefix, tok, freq
      FROM tf CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS l)
                         pl
      WHERE length(tok) >= pl.l)
    SELECT prefix, rank::BIGINT AS rank, tok AS token, freq FROM (
      SELECT prefix, tok, freq,
             row_number() OVER (PARTITION BY prefix
                                ORDER BY freq DESC, tok) AS rank
      FROM px)
    WHERE rank <= 3
    """,
)
def prefix_index_documents(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X158 — autocomplete prefix index: for every 1-4 character
    token prefix, the top-3 completions by corpus frequency — the
    precomputed search-suggestion table (type "pro" → see the three
    most frequent "pro…" tokens).  One token count, a bounded ×4
    in-row prefix explode, ONE prefix-keyed top-k window
    (WindowGroupLimit ships 3 rows per prefix past the sort);
    (freq desc, token asc) makes ranking engine-deterministic with
    no float involved at all."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(F.split(F.col("text"), r"\s+"))
                      .alias("tok"))
          .filter(F.col("tok") != "")
          .groupBy("tok")
          .agg(F.count("*").cast("long").alias("freq")))
    px = (tf.select(
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("l"),
        "tok", "freq")
        .filter(F.length("tok") >= F.col("l"))
        .select(F.expr("substr(tok, 1, l)").alias("prefix"),
                "tok", "freq"))
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(),
                                             F.col("tok"))
    return (px.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("prefix", F.col("rank").cast("long").alias("rank"),
                    F.col("tok").alias("token"), "freq"))


# ---------------------------------------------------------------------------
# X159 — Pareto frontier (2-D skyline)
# ---------------------------------------------------------------------------

@query(
    "pareto_frontier_customers",
    """
    WITH m AS (
      SELECT c.c_nationkey, o.o_custkey,
             sum(floor(o.o_totalprice * 100 + 0.5)::BIGINT) / 100.0 AS spend,
             count(*)::BIGINT AS n_orders
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2)
    SELECT m.c_nationkey, m.o_custkey AS c_custkey, m.spend,
           m.n_orders
    FROM m
    WHERE NOT EXISTS (
      SELECT 1 FROM m d
      WHERE d.c_nationkey = m.c_nationkey
        AND d.spend > m.spend AND d.n_orders > m.n_orders)
    """,
)
def pareto_frontier_customers(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X159 — 2-D Pareto frontier (skyline) per nation: customers not
    STRICTLY dominated on (total spend, order count) — the
    "best-tradeoff" query (top-spenders-or-most-frequent, and every
    efficient mix between) that a naive top-k by either axis gets
    wrong.  The 2-D skyline needs no dominance join: group rows by
    the first axis, take the per-value max of the second, ONE ordered
    window (running max + lag) yields max{y' : x' > x}, and a row is
    on the frontier iff that strict-prefix max does not exceed its
    own y.  All shuffles are nation-keyed; the oracle is the literal
    n² NOT EXISTS dominance predicate (per-nation partitions keep it
    feasible at test scale).  Spend is rounded BEFORE grouping on
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    m = (orders.join(F.broadcast(cust),
                     orders["o_custkey"] == cust["c_custkey"])
         .groupBy("c_nationkey", "o_custkey")
         .agg(fsum("o_totalprice", 2).alias("spend"),
              F.count("*").cast("long").alias("n_orders")))
    g = (m.groupBy("c_nationkey", "spend")
         .agg(F.max("n_orders").alias("gmax")))
    w = (Window.partitionBy("c_nationkey")
         .orderBy(F.col("spend").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wl = Window.partitionBy("c_nationkey").orderBy(F.col("spend").desc())
    strict = (g.withColumn("runmax", F.max("gmax").over(w))
              .withColumn("prev_strict_max", F.lag("runmax").over(wl))
              .select("c_nationkey", "spend", "prev_strict_max"))
    return (m.join(strict, ["c_nationkey", "spend"])
            .filter(F.col("prev_strict_max").isNull()
                    | (F.col("prev_strict_max") <= F.col("n_orders")))
            .select("c_nationkey",
                    F.col("o_custkey").alias("c_custkey"),
                    "spend", "n_orders"))


# ---------------------------------------------------------------------------
# X161 — whole-table column profile sweep
# ---------------------------------------------------------------------------

@query(
    "column_profile_orders",
    """
    WITH tall AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_custkey', o_custkey::VARCHAR FROM orders),
    agg AS (
      SELECT col, count(*)::BIGINT AS n,
             sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_null,
             count(DISTINCT val)::BIGINT AS n_distinct,
             min(val) AS min_val, max(val) AS max_val
      FROM tall GROUP BY 1),
    top AS (
      SELECT col, val AS top_val, cnt AS top_n FROM (
        SELECT col, val, count(*)::BIGINT AS cnt,
               row_number() OVER (PARTITION BY col
                                  ORDER BY count(*) DESC, val) AS rn
        FROM tall WHERE val IS NOT NULL GROUP BY col, val)
      WHERE rn = 1)
    SELECT agg.col, agg.n, agg.n_null, agg.n_distinct,
           agg.min_val, agg.max_val, top.top_val, top.top_n
    FROM agg JOIN top USING (col)
    """,
)
def column_profile_orders(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X161 — whole-table column profile in ONE sweep: per column,
    row/null/distinct counts, min/max, and the modal value with its
    frequency — the first query anyone runs on an unfamiliar table,
    and the nightly data-quality snapshot whose diffs (via X28/X79)
    catch silent upstream changes.  Columns unpivot in-row to a tall
    (col, val) stream (strings, so one schema fits all), then ONE
    col-keyed aggregate + ONE (col, val)-keyed mode election with a
    col-keyed top-1 window (WindowGroupLimit).  Ties on the mode
    break by value ascending — deterministic on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    tall = orders.selectExpr(
        "stack(3, 'o_orderstatus', o_orderstatus, "
        "'o_orderpriority', o_orderpriority, "
        "'o_custkey', cast(o_custkey AS string)) AS (col, val)")
    agg = (tall.groupBy("col")
           .agg(F.count("*").cast("long").alias("n"),
                F.sum(F.col("val").isNull().cast("long")).cast("long")
                .alias("n_null"),
                F.countDistinct("val").cast("long").alias("n_distinct"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val")))
    w = Window.partitionBy("col").orderBy(F.col("cnt").desc(),
                                          F.col("val"))
    top = (tall.filter(F.col("val").isNotNull())
           .groupBy("col", "val")
           .agg(F.count("*").cast("long").alias("cnt"))
           .withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("col", F.col("val").alias("top_val"),
                   F.col("cnt").alias("top_n")))
    return agg.join(top, "col")


# ---------------------------------------------------------------------------
# X162 — ingestion watermark-lag monitor
# ---------------------------------------------------------------------------

@query(
    "ingest_lag_by_type",
    """
    WITH g AS (SELECT max(ts) AS gmax FROM events),
    p AS (SELECT event_type, count(*)::BIGINT AS n,
                 max(ts) AS part_max,
                 min(ts) AS part_min
          FROM events GROUP BY 1)
    SELECT p.event_type, p.n,
           floor((epoch(g.gmax) - epoch(p.part_max)) * 100 + 0.5)
             / 100 AS lag_s,
           floor((epoch(p.part_max) - epoch(p.part_min)) * 100 + 0.5)
             / 100 AS span_s,
           p.part_max = g.gmax AS is_freshest
    FROM p, g
    """,
)
def ingest_lag_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X162 — ingestion watermark-lag monitor: per event type, how
    far its newest record trails the global high-water mark, plus
    its time span and a freshest flag — the per-partition lag board
    that catches a stalled producer (one topic silently three hours
    behind) before downstream windows close on incomplete data.
    One type-keyed aggregate + a 1-row global max broadcast."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("gmax"))
    p100 = 100
    fr = lambda c: F.floor(c * p100 + F.lit(0.5)) / p100  # noqa: E731
    p = (ev.groupBy("event_type")
         .agg(F.count("*").cast("long").alias("n"),
              F.max("ts").alias("part_max"),
              F.min("ts").alias("part_min")))
    return (p.crossJoin(F.broadcast(g))
            .select("event_type", "n",
                    fr(F.col("gmax").cast("double")
                       - F.col("part_max").cast("double"))
                    .alias("lag_s"),
                    fr(F.col("part_max").cast("double")
                       - F.col("part_min").cast("double"))
                    .alias("span_s"),
                    (F.col("part_max") == F.col("gmax"))
                    .alias("is_freshest")))


# ---------------------------------------------------------------------------
# X163 — encoding-quality (mojibake) audit
# ---------------------------------------------------------------------------

_REPL = "�"
_BELL = "\x07"


@query(
    "encoding_audit_documents",
    f"""
    WITH fix AS (
      SELECT source,
             text
               || CASE WHEN doc_id % 13 = 0 THEN ' café naïve'
                       ELSE '' END
               || CASE WHEN doc_id % 17 = 0 THEN ' cafÃ©'
                       ELSE '' END
               || CASE WHEN doc_id % 19 = 0 THEN ' {_REPL}ware'
                       ELSE '' END
               || CASE WHEN doc_id % 23 = 0 THEN chr(7) || 'ding'
                       ELSE '' END AS txt
      FROM documents),
    m AS (
      SELECT source,
             length(txt) - length(replace(txt, '{_REPL}', '')) AS n_repl,
             length(txt) - length(replace(txt, 'Ã', '')) AS n_moji,
             length(txt) - length(replace(txt, chr(7), '')) AS n_ctl,
             length(txt) - length(replace(txt, 'é', ''))
               + length(txt) - length(replace(txt, 'ï', ''))
               AS n_acc
      FROM fix)
    SELECT source, count(*)::BIGINT AS n_docs,
           floor(avg(CASE WHEN n_repl > 0 THEN 1.0 ELSE 0.0 END)
                 * 10000 + 0.5) / 10000 AS frac_replacement_docs,
           sum(n_moji)::BIGINT AS n_mojibake_marks,
           sum(n_ctl)::BIGINT AS n_control_chars,
           floor(avg(CASE WHEN n_acc > 0 THEN 1.0 ELSE 0.0 END)
                 * 10000 + 0.5) / 10000 AS frac_accented_docs
    FROM m GROUP BY 1
    """,
)
def encoding_audit_documents(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X163 — encoding-quality audit per source: U+FFFD replacement
    characters (a decoder already gave up), 'Ã' digraph marks (the
    UTF-8-read-as-Latin-1 mojibake signature), C0 control characters,
    and legitimately-accented docs for contrast — the triage that
    decides whether a source needs re-decoding before it poisons a
    tokenizer.  Markers are injected deterministically (the harness
    corpus is clean ASCII; X123/X145 discipline).  Every counter is a
    replace-diff on a SINGLE code point — no regex, so the two
    engines cannot disagree on pattern dialects; zero shuffle before
    the per-source reduce."""
    docs = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit(" café naïve")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0,
               F.lit(" cafÃ©")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 19 == 0,
               F.lit(f" {_REPL}ware")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0,
               F.lit(_BELL + "ding")).otherwise(F.lit("")))

    def marks(ch):
        return F.length(F.col("txt")) - F.length(
            F.replace(F.col("txt"), F.lit(ch), F.lit("")))

    p = 10 ** 4
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    m = (docs.select("source", txt.alias("txt"))
         .select("source",
                 marks(_REPL).alias("n_repl"),
                 marks("Ã").alias("n_moji"),
                 marks(_BELL).alias("n_ctl"),
                 (marks("é") + marks("ï")).alias("n_acc")))
    return (m.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 fr(F.avg((F.col("n_repl") > 0).cast("double")))
                 .alias("frac_replacement_docs"),
                 F.sum("n_moji").cast("long").alias("n_mojibake_marks"),
                 F.sum("n_ctl").cast("long").alias("n_control_chars"),
                 fr(F.avg((F.col("n_acc") > 0).cast("double")))
                 .alias("frac_accented_docs")))


# ===========================================================================
# merged from queries_r6g.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-6 operator families (final batch) X164-X165: field-level
survivorship merge and the one-row corpus datacard."""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X164 — field-level survivorship merge (latest non-null per column)
# ---------------------------------------------------------------------------

@query(
    "field_survivorship_documents",
    """
    WITH v AS (
      SELECT doc_id, 0 AS ver, text, lang,
             NULL::VARCHAR AS source FROM documents
      UNION ALL
      SELECT doc_id, 1, NULL, CASE WHEN doc_id % 2 = 0
                                   THEN 'xx' ELSE NULL END,
             source
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 2, text || ' v2', NULL, NULL
      FROM documents WHERE doc_id % 5 = 0),
    m AS (
      SELECT doc_id,
             max(CASE WHEN text IS NOT NULL THEN
                   struct_pack(ver := ver, val := text) END) AS mt,
             max(CASE WHEN lang IS NOT NULL THEN
                   struct_pack(ver := ver, val := lang) END) AS ml,
             max(CASE WHEN source IS NOT NULL THEN
                   struct_pack(ver := ver, val := source) END) AS ms
      FROM v GROUP BY 1)
    SELECT doc_id, mt.val AS text, ml.val AS lang,
           ms.val AS source
    FROM m
    """,
)
def field_survivorship_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X164 — field-level survivorship merge: collapse versioned
    partial records to one golden row per key where EACH COLUMN
    independently takes its latest non-null value — the MDM merge
    rule X91's whole-row election cannot express (a v1 record that
    updates only `source` must not erase v0's `text`).  The
    deterministic version stack here: v0 full rows, v1 partial
    (source + even-key lang), v2 text-only.  ONE key-keyed aggregate
    with a per-column max over (version, value) structs — null
    values excluded per column, so a later null never wins; no
    window, no self-join."""
    docs = load_table(spark, sf_dir, "documents")
    v0 = docs.select("doc_id", F.lit(0).alias("ver"), "text", "lang",
                     F.lit(None).cast("string").alias("source"))
    v1 = (docs.filter(F.col("doc_id") % 3 == 0)
          .select("doc_id", F.lit(1).alias("ver"),
                  F.lit(None).cast("string").alias("text"),
                  F.when(F.col("doc_id") % 2 == 0, "xx")
                  .otherwise(F.lit(None)).alias("lang"),
                  "source"))
    v2 = (docs.filter(F.col("doc_id") % 5 == 0)
          .select("doc_id", F.lit(2).alias("ver"),
                  F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                  F.lit(None).cast("string").alias("lang"),
                  F.lit(None).cast("string").alias("source")))
    v = v0.unionByName(v1).unionByName(v2)

    def latest(col):
        return F.max(F.when(F.col(col).isNotNull(),
                            F.struct(F.col("ver"), F.col(col)
                                     .alias("val"))))["val"]

    return (v.groupBy("doc_id")
            .agg(latest("text").alias("text"),
                 latest("lang").alias("lang"),
                 latest("source").alias("source")))


# ---------------------------------------------------------------------------
# X165 — one-row corpus datacard
# ---------------------------------------------------------------------------

@query(
    "corpus_datacard_documents",
    """
    WITH base AS (
      SELECT doc_id, text, lang, source, n_chars,
             len(string_split_regex(text, '\\s+')) AS n_tok
      FROM documents),
    dup AS (SELECT count(*) - count(DISTINCT text) AS n_dups,
                   count(*) AS n FROM base),
    agg AS (
      SELECT count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS n_tokens,
             count(DISTINCT lang)::BIGINT AS n_langs,
             count(DISTINCT source)::BIGINT AS n_sources,
             floor(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
                   * 10000 + 0.5) / 10000 AS frac_en,
             floor(avg(n_chars) * 100 + 0.5) / 100 AS mean_chars,
             floor(quantile_cont(n_tok::DOUBLE, 0.5) * 100 + 0.5)
               / 100 AS median_tokens
      FROM base)
    SELECT agg.*,
           dup.n_dups::BIGINT AS n_exact_dups,
           floor(dup.n_dups * 1.0 / dup.n * 10000 + 0.5) / 10000
             AS dup_rate
    FROM agg, dup
    """,
)
def corpus_datacard_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X165 — one-row corpus datacard: docs / tokens / languages /
    sources, English share, length profile, and exact-duplicate rate
    — the summary block of a dataset card, assembled from the same
    primitives the dedicated operators use (X1 exact dedup's
    text-identity, X6's token counts), in two aggregates joined as
    1-row broadcasts.  This is the first thing a dataset release
    ships and the nightly tripwire for silent corpus drift (diff
    against yesterday's card via X28)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.withColumn(
        "n_tok", F.size(F.split(F.col("text"), r"\s+")))
    p4, p2 = 10 ** 4, 10 ** 2
    fr4 = lambda c: F.floor(c * p4 + F.lit(0.5)) / p4  # noqa: E731
    fr2 = lambda c: F.floor(c * p2 + F.lit(0.5)) / p2  # noqa: E731
    agg = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        fr4(F.avg((F.col("lang") == "en").cast("double")))
        .alias("frac_en"),
        fr2(F.avg("n_chars")).alias("mean_chars"),
        fr2(F.expr("percentile(n_tok, 0.5)")).alias("median_tokens"))
    dup = base.agg(
        (F.count("*") - F.countDistinct("text")).cast("long")
        .alias("n_exact_dups"),
        F.count("*").alias("__n"))
    return (agg.crossJoin(F.broadcast(dup))
            .withColumn("dup_rate",
                        fr4(F.col("n_exact_dups") / F.col("__n")))
            .drop("__n"))
