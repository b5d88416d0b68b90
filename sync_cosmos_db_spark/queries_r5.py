"""Round-5 extension operators (X72–X87): calendar-decay EWMA
smoothing, chi-square independence audit, winsorized robust
aggregation, positional phrase search, functional-dependency audit,
categorical entropy profiling, Z-order clustered layout, PSI/KS drift
detection, Benford audit, MAD outliers, equi-depth revenue deciles,
pivoted crosstab, last-touch attribution, rolling distinct actives,
vocabulary-growth profile, and key-skew diagnostics.

None of these exist in the reference (its analytic surface is a single
document count, ``/root/reference/src/migration.py:62``); they are the
round-5 increment of the BASELINE.json extension series — the
statistics / data-layout / IR passes a training-data pipeline runs
beside the dedup+curation stack.  Same contract as every other query
module: each query is Spark-first (Catalyst plans, group-keyed
shuffles, no driver-side data loops) and each oracle recomputes the
semantics independently in DuckDB SQL for the driver's hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_tempdir
from sync_cosmos_db_spark.queries import fsum, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X72 — calendar-decay EWMA (operators/temporal.py)
# ---------------------------------------------------------------------------

@query(
    "ewma_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderdate::DATE AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    contrib AS (
      SELECT d + k::INTEGER AS day, v * pow(0.5, k) AS wv,
             pow(0.5, k) AS w
      FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS k) g),
    present AS (SELECT DISTINCT d AS day FROM daily)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           floor(sum(wv) / sum(w) * 10000 + 0.5) / 10000 AS ewma
    FROM contrib SEMI JOIN present USING (day)
    GROUP BY day
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 — exponentially-weighted moving average of daily order
    revenue with CALENDAR decay (a 3-day gap decays 3×), pandas
    ``adjust=True`` normalization, 30-day truncation.  The plan has no
    self-join and no non-equi range join: each day explodes its value
    onto the ≤30 future days it influences and one day-keyed groupBy
    sums weighted numerator/denominator (see
    ``temporal.ewma_calendar``).  α = 0.5 makes every weight an exact
    dyadic double, so both engines multiply identically."""
    from sync_cosmos_db_spark.operators.temporal import ewma_calendar

    daily = (load_table(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.sum("o_totalprice").alias("v")))
    out = ewma_calendar(daily, "d", "v", alpha=0.5, window_days=30)
    return out.select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                      "ewma")


# ---------------------------------------------------------------------------
# X73 — chi-square independence (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "chi2_orders_status_priority",
    """
    WITH cells AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b,
             count(*)::DOUBLE AS o
      FROM orders GROUP BY 1, 2),
    ma  AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
    mb  AS (SELECT b, sum(o) AS rb FROM cells GROUP BY b),
    tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS n_a,
                   count(DISTINCT b) AS n_b FROM cells),
    j AS (SELECT o, ra * rb / n AS e, n, n_a, n_b
          FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot)
    SELECT n::BIGINT AS n, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           ((n_a - 1) * (n_b - 1))::BIGINT AS dof,
           floor((sum((o - e) * (o - e) / e) + n - sum(e)) * 10000 + 0.5)
             / 10000 AS chi2
    FROM j GROUP BY n, n_a, n_b
    """,
)
def chi2_orders_status_priority(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X73 — Pearson chi-square independence statistic between order
    status and priority: the contingency-table audit that flags
    leaking/correlated categoricals before they enter a sampling or
    stratification key.  One (a,b) groupBy builds the contingency
    table; margins re-aggregate the tiny cell table; unobserved cells
    contribute their expected mass in closed form (no category-grid
    cross join)."""
    from sync_cosmos_db_spark.operators.profiling import chi2_independence

    orders = load_table(spark, sf_dir, "orders")
    return chi2_independence(orders, "o_orderstatus", "o_orderpriority")


# ---------------------------------------------------------------------------
# X74 — winsorized robust aggregation (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "winsorized_price_by_priority",
    """
    WITH pct AS (
      SELECT o_orderpriority AS g,
             quantile_cont(o_totalprice, 0.05) AS plo,
             quantile_cont(o_totalprice, 0.95) AS phi
      FROM orders GROUP BY 1),
    r AS (SELECT o.o_orderpriority AS g, o.o_totalprice::DOUBLE AS v,
                 p.plo, p.phi
          FROM orders o JOIN pct p ON p.g = o.o_orderpriority)
    SELECT g AS o_orderpriority, count(*)::BIGINT AS n,
           floor(min(plo) * 10000 + 0.5) / 10000 AS p_lo,
           floor(min(phi) * 10000 + 0.5) / 10000 AS p_hi,
           floor(sum(floor(v * 1000000 + 0.5)::BIGINT)::DOUBLE
                 / count(*) / 100 + 0.5) / 10000 AS mean_raw,
           floor(sum(floor(least(greatest(v, plo), phi) * 1000000
                           + 0.5)::BIGINT)::DOUBLE
                 / count(*) / 100 + 0.5) / 10000
             AS mean_winsorized
    FROM r GROUP BY g
    """,
)
def winsorized_price_by_priority(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X74 — per-priority winsorized mean of order totals: values
    clamped to the group's interpolated [p05, p95] before averaging —
    the robust-mean pass that tames heavy tails without dropping rows.
    Exact interpolated ``percentile`` here; at 100 TB the same plan
    takes ``percentile_approx`` (identical shape, sketch-mergeable).
    Both engines interpolate percentiles linearly on the sorted
    values, so the clamp bounds agree."""
    from sync_cosmos_db_spark.operators.profiling import winsorized_stats

    orders = load_table(spark, sf_dir, "orders")
    return winsorized_stats(orders, "o_orderpriority", "o_totalprice",
                            lo=0.05, hi=0.95)


# ---------------------------------------------------------------------------
# X75 — positional phrase search (operators/retrieval.py)
# ---------------------------------------------------------------------------

@query(
    "phrase_search_table_table",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                      generate_subscripts(string_split(text, ' '), 1) AS i
               FROM documents),
    l AS (SELECT doc_id, i, tok,
                 lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS t1
          FROM t)
    SELECT doc_id, count(*)::BIGINT AS n_matches,
           min(i)::BIGINT AS first_pos
    FROM l WHERE tok = 'table' AND t1 = 'table'
    GROUP BY doc_id
    """,
)
def phrase_search_table_table(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X75 — exact phrase search via the positional-inverted-index
    intersection (``retrieval.phrase_search``): candidate postings
    filtered per term, aligned to the phrase start, k-way equi-joined
    on (doc, start).  The phrase 'table table' has a REPEATED term —
    the degenerate case where one occurrence list must satisfy two
    offsets — and the oracle recomputes matches with an entirely
    different mechanism (adjacency via lead window), so agreement
    pins the intersection logic, not a shared shortcut."""
    from sync_cosmos_db_spark.operators.retrieval import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "table table")


# ---------------------------------------------------------------------------
# X76 — functional-dependency audit (operators/expectations.py)
# ---------------------------------------------------------------------------

@query(
    "fd_audit_docs_orders",
    """
    WITH d1 AS (SELECT source AS l, count(DISTINCT lang) AS nr
                FROM documents GROUP BY 1),
    d2 AS (SELECT lang AS l, count(DISTINCT source) AS nr
           FROM documents GROUP BY 1),
    d3 AS (SELECT o_custkey AS l, count(DISTINCT o_orderstatus) AS nr
           FROM orders GROUP BY 1)
    SELECT 'source->lang' AS fd, count(*)::BIGINT AS n_lhs,
           sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_violating_lhs,
           max(nr)::BIGINT AS max_rhs_per_lhs FROM d1
    UNION ALL
    SELECT 'lang->source', count(*)::BIGINT,
           sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END)::BIGINT,
           max(nr)::BIGINT FROM d2
    UNION ALL
    SELECT 'o_custkey->o_orderstatus', count(*)::BIGINT,
           sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END)::BIGINT,
           max(nr)::BIGINT FROM d3
    """,
)
def fd_audit_docs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76 — functional-dependency audit
    (``expectations.fd_violations``): candidate FDs checked by
    counting lhs values mapping to >1 distinct rhs — the
    key-discovery / schema-inference pass.  'source->lang' holds or
    nearly holds on the corpus; its inverse and the customer→status
    candidates are heavily violated, so both branches of the verdict
    are exercised.  Each FD is one lhs-keyed groupBy over a 2-column
    pruned scan."""
    from sync_cosmos_db_spark.operators.expectations import fd_violations

    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    return (fd_violations(docs, [("source", "lang"), ("lang", "source")])
            .unionByName(fd_violations(
                orders, [("o_custkey", "o_orderstatus")])))


# ---------------------------------------------------------------------------
# X77 — categorical entropy profiling (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "entropy_profile_categoricals",
    """
    WITH pairs AS (
      SELECT 'lang' AS column_name, lang AS val FROM documents
      UNION ALL SELECT 'source', source FROM documents
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
    counts AS (SELECT column_name, val, count(*)::DOUBLE AS c
               FROM pairs GROUP BY 1, 2),
    tot AS (SELECT column_name, sum(c) AS n FROM counts GROUP BY 1),
    r AS (SELECT counts.column_name, c / n AS p
          FROM counts JOIN tot USING (column_name))
    SELECT column_name, count(*)::BIGINT AS n_distinct,
           floor(sum(-p * log2(p)) * 10000 + 0.5) / 10000 AS entropy_bits,
           floor((1.0 - sum(p * p)) * 10000 + 0.5) / 10000 AS gini
    FROM r GROUP BY column_name
    """,
)
def entropy_profile_categoricals(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X77 — Shannon entropy + Gini impurity per categorical column
    (``profiling.categorical_entropy``): the degenerate-column
    detector (entropy 0 ⇒ constant, log2(n_distinct) ⇒ uniform ⇒
    likely an id).  All columns of a table profile in ONE scan — each
    row explodes into (column, value) pairs in-row, one groupBy
    counts, one re-aggregate of the tiny count table computes the
    stats."""
    from sync_cosmos_db_spark.operators.profiling import (
        categorical_entropy,
    )

    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    return (categorical_entropy(docs, ["lang", "source"])
            .unionByName(categorical_entropy(
                orders, ["o_orderstatus", "o_orderpriority"])))


# ---------------------------------------------------------------------------
# X78 — Z-order clustered layout (sinks.py)
# ---------------------------------------------------------------------------

@query(
    "zorder_roundtrip_documents",
    """
    SELECT doc_id, n_chars, lang, sha256(text) AS text_sha
    FROM documents
    """,
)
def zorder_roundtrip_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X78 — Z-order clustered rewrite (``sinks.write_zordered``):
    documents laid out by the Morton interleave of (n_chars, doc_id)
    bit-scaled ranks, then read back.  The oracle asserts the layout
    pass moved BYTES, not VALUES (identity content round-trip); the
    clustering claim itself — per-file min-max ranges narrow on both
    dimensions, which is what makes either predicate prune files at
    100 TB — is pinned by ``tests/test_sinks.py``."""
    import os

    from sync_cosmos_db_spark.sinks import write_zordered

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(scoped_tempdir("zorder_"), "docs.parquet")
    write_zordered(docs, path, ["n_chars", "doc_id"], num_files=8)
    back = spark.read.parquet(path)
    return back.select("doc_id", "n_chars", "lang",
                       F.sha2(F.col("text"), 256).alias("text_sha"))


# ---------------------------------------------------------------------------
# X79 — PSI + binned-KS drift (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "drift_orders_price_halves",
    """
    WITH b AS (
      SELECT greatest(0, least(floor(o_totalprice / 30000), 19))::BIGINT
               AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS is_a
      FROM orders),
    c AS (SELECT bucket, sum(is_a)::DOUBLE AS ca,
                 sum(1 - is_a)::DOUBLE AS cb
          FROM b GROUP BY 1),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
    r AS (SELECT bucket, ca, cb, na, nb,
                 greatest(ca / na, 1e-6) AS pa,
                 greatest(cb / nb, 1e-6) AS pb,
                 sum(ca / na) OVER (ORDER BY bucket) AS cdf_a,
                 sum(cb / nb) OVER (ORDER BY bucket) AS cdf_b
          FROM c CROSS JOIN t)
    SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
           floor(sum((pa - pb) * ln(pa / pb)) * 10000 + 0.5) / 10000
             AS psi,
           floor(max(abs(cdf_a - cdf_b)) * 10000 + 0.5) / 10000 AS ks
    FROM r
    """,
)
def drift_orders_price_halves(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X79 — train/serve drift audit (``profiling.psi_ks_drift``):
    PSI + binned KS between pre-1998 and post-1998 order totals over
    20 fixed [0, 600k] bins.  Binned KS is the deliberate 100 TB
    choice — exact KS needs a global total order; the binned CDF gap
    is a constant-size aggregate.  The oracle recomputes both
    statistics from a conditional-sum contingency table rather than a
    two-sided outer join, so agreement pins the semantics."""
    from sync_cosmos_db_spark.operators.profiling import psi_ks_drift

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return psi_ks_drift(orders.filter(F.col("o_orderdate") < cut),
                        orders.filter(F.col("o_orderdate") >= cut),
                        "o_totalprice", lo=0.0, hi=600000.0, n_buckets=20)


# ---------------------------------------------------------------------------
# X80 — Benford first-digit audit (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "benford_order_prices",
    """
    WITH d AS (
      SELECT floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
               ::BIGINT AS digit
      FROM orders WHERE o_totalprice > 0),
    c AS (SELECT digit, count(*)::DOUBLE AS c FROM d GROUP BY 1),
    t AS (SELECT sum(c) AS n_tot FROM c)
    SELECT digit, c::BIGINT AS n,
           floor(c / n_tot * 10000 + 0.5) / 10000 AS obs_p,
           floor(log10(1.0 + 1.0 / digit) * 10000 + 0.5) / 10000 AS exp_p,
           floor(abs(c / n_tot - log10(1.0 + 1.0 / digit)) * 10000 + 0.5)
             / 10000 AS abs_dev
    FROM c CROSS JOIN t
    """,
)
def benford_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 — Benford first-significant-digit audit
    (``profiling.benford_audit``) over order totals: observed leading-
    digit frequencies vs log10(1 + 1/d).  The digit is derived
    arithmetically (never via string formatting) so both engines
    compute it from the same IEEE double; one scan, one ≤9-row
    shuffle."""
    from sync_cosmos_db_spark.operators.profiling import benford_audit

    return benford_audit(load_table(spark, sf_dir, "orders"),
                         "o_totalprice")


# ---------------------------------------------------------------------------
# X81 — MAD robust outliers (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "mad_outlier_prices",
    """
    WITH med AS (
      SELECT o_orderpriority AS g,
             quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY 1),
    j AS (SELECT o.o_orderpriority AS g, o.o_totalprice::DOUBLE AS v,
                 m.med
          FROM orders o JOIN med m ON m.g = o.o_orderpriority),
    mad AS (SELECT g, quantile_cont(abs(v - med), 0.5) AS mad
            FROM j GROUP BY 1)
    SELECT j.g AS o_orderpriority, count(*)::BIGINT AS n,
           floor(max(j.med) * 10000 + 0.5) / 10000 AS med,
           floor(max(mad.mad) * 10000 + 0.5) / 10000 AS mad,
           sum(CASE WHEN CASE WHEN mad.mad > 0
                         THEN abs(0.6745 * (v - j.med) / mad.mad) > 3.5
                         ELSE v <> j.med END
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM j JOIN mad ON mad.g = j.g
    GROUP BY 1
    """,
)
def mad_outlier_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81 — median-absolute-deviation outlier flags
    (``profiling.mad_outliers``): per-priority modified z-score
    0.6745·(x−med)/MAD with the Iglewicz–Hoaglin 3.5 cutoff — the
    50%-breakdown robust sibling of the IQR fence (X29).  Two
    group-keyed interpolated-percentile aggregates + broadcast joins;
    at 100 TB the identical plan takes ``percentile_approx``."""
    from sync_cosmos_db_spark.operators.profiling import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "orders"),
                        "o_orderpriority", "o_totalprice")


# ---------------------------------------------------------------------------
# X82 — equi-depth revenue deciles (broadcast-threshold bucketing)
# ---------------------------------------------------------------------------

@query(
    "revenue_decile_profile",
    """
    WITH spend AS (
      SELECT o_custkey,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0 AS spend
      FROM orders GROUP BY 1),
    b AS (SELECT quantile_cont(spend,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
            AS bounds FROM spend),
    d AS (SELECT o_custkey, spend,
                 (len(list_filter(bounds, x -> spend > x)) + 1)::BIGINT
                   AS decile
          FROM spend CROSS JOIN b)
    SELECT decile, count(*)::BIGINT AS n_customers,
           sum(floor(spend * 100 + 0.5)::BIGINT) / 100.0 AS total_spend,
           floor(min(spend) * 10000 + 0.5) / 10000 AS min_spend,
           floor(max(spend) * 10000 + 0.5) / 10000 AS max_spend
    FROM d GROUP BY decile
    """,
)
def revenue_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82 — customer-revenue deciles WITHOUT a global sort: the naive
    NTILE(10) needs a single-partition total order over every
    customer; here the nine interpolated decile boundaries come from
    ONE single-row percentile aggregate, broadcast back, and each row
    buckets itself by comparison (`1 + #bounds below`) — the
    equi-depth histogram shape that survives a 15B-customer table.
    Ties share a decile (unlike NTILE's arbitrary split), which is
    the semantics a revenue-band report actually wants."""
    spend = (load_table(spark, sf_dir, "orders")
             .groupBy("o_custkey")
             .agg(fsum("o_totalprice", 2).alias("spend")))
    qs = [i / 10 for i in range(1, 10)]
    bounds = spend.agg(F.expr(
        f"percentile(spend, array({', '.join(str(q) for q in qs)}))")
        .alias("bounds"))
    p = 10 ** 4
    d = (spend.crossJoin(F.broadcast(bounds))
         .withColumn("decile",
                     (F.size(F.filter(
                         "bounds",
                         lambda x: F.col("spend") > x)) + 1).cast("long")))
    return (d.groupBy("decile")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                 fsum("spend", 2).alias("total_spend"),
                 (F.floor(F.min("spend") * p + F.lit(0.5)) / p)
                 .alias("min_spend"),
                 (F.floor(F.max("spend") * p + F.lit(0.5)) / p)
                 .alias("max_spend")))


# ---------------------------------------------------------------------------
# X83 — pivoted crosstab (Catalyst pivot)
# ---------------------------------------------------------------------------

@query(
    "pivot_priority_by_status",
    """
    SELECT o_orderpriority,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
             AS n_f,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT
             AS n_o,
           sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT
             AS n_p
    FROM orders GROUP BY 1
    """,
)
def pivot_priority_by_status(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X83 — crosstab via Catalyst ``pivot`` with EXPLICIT pivot
    values: passing the value list skips the extra distinct-values
    job a bare ``pivot(col)`` runs and makes the output schema static
    — the form that's safe to run unattended at scale.  The oracle is
    the CASE-WHEN expansion pivot desugars to."""
    orders = load_table(spark, sf_dir, "orders")
    pv = (orders.groupBy("o_orderpriority")
          .pivot("o_orderstatus", ["F", "O", "P"])
          .agg(F.count(F.lit(1))))
    return (pv.select("o_orderpriority",
                      F.coalesce(F.col("F"), F.lit(0)).cast("long")
                      .alias("n_f"),
                      F.coalesce(F.col("O"), F.lit(0)).cast("long")
                      .alias("n_o"),
                      F.coalesce(F.col("P"), F.lit(0)).cast("long")
                      .alias("n_p")))


# ---------------------------------------------------------------------------
# X84 — last-touch attribution (operators/behavioral.py)
# ---------------------------------------------------------------------------

@query(
    "attribution_last_touch",
    """
    WITH fc AS (
      SELECT user_id, min(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    t AS (SELECT e.user_id, e.ts, e.event_id, e.event_type
          FROM events e JOIN fc USING (user_id)
          WHERE e.event_type <> 'purchase' AND e.ts < fc.conv_ts),
    lt AS (SELECT user_id, event_type AS channel FROM (
             SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC)
                      AS rn
             FROM t) WHERE rn = 1)
    SELECT coalesce(lt.channel, 'direct') AS channel,
           count(*)::BIGINT AS n_converters
    FROM fc LEFT JOIN lt USING (user_id)
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84 — last-touch conversion attribution
    (``behavioral.last_touch_attribution``): each converter's credit
    goes to the last non-purchase event before their first purchase
    ('direct' when none).  The Spark plan picks the touch with a
    user-keyed max-struct aggregate (no window over raw events); the
    oracle picks it with a row_number window — two mechanisms, one
    answer."""
    from sync_cosmos_db_spark.operators.behavioral import (
        last_touch_attribution,
    )

    return last_touch_attribution(load_table(spark, sf_dir, "events"),
                                  "purchase")


# ---------------------------------------------------------------------------
# X85 — rolling distinct actives (operators/behavioral.py)
# ---------------------------------------------------------------------------

@query(
    "rolling_7d_active_users",
    """
    WITH ud AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    r AS (SELECT days.d AS day, ud.u
          FROM days JOIN ud ON ud.d <= days.d AND ud.d > days.d - 7)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(DISTINCT u)::BIGINT AS active_users
    FROM r GROUP BY 1
    """,
)
def rolling_7d_active_users(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X85 — trailing-7-day distinct active users
    (``behavioral.rolling_active_users``): the WAU board metric.  A
    rolling DISTINCT can't ride a window frame, and the day×events
    range join the oracle runs is quadratic — the Spark plan instead
    dedups to (user, day) pairs FIRST, explodes each pair onto the
    ≤7 days it keeps the user active (bounded in-row expansion of the
    already-shrunk table), and runs one day-keyed distinct count."""
    from sync_cosmos_db_spark.operators.behavioral import (
        rolling_active_users,
    )

    out = rolling_active_users(load_table(spark, sf_dir, "events"),
                               window_days=7)
    return out.select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                      "active_users")


# ---------------------------------------------------------------------------
# X86 — vocabulary-growth profile (operators/text.py)
# ---------------------------------------------------------------------------

@query(
    "vocab_growth_documents",
    """
    WITH toks AS (
      SELECT floor(doc_id / 50)::BIGINT AS bucket,
             unnest(regexp_split_to_array(text, '\\s+')) AS tok
      FROM documents),
    tf AS (SELECT bucket, tok FROM toks WHERE tok <> ''),
    pt AS (SELECT tok, min(bucket) AS fb FROM tf GROUP BY 1),
    vol AS (SELECT bucket, count(*) AS n_tokens FROM tf GROUP BY 1),
    news AS (SELECT fb AS bucket, count(*) AS new_types
             FROM pt GROUP BY 1),
    j AS (SELECT vol.bucket, n_tokens, coalesce(new_types, 0) AS new_types
          FROM vol LEFT JOIN news USING (bucket))
    SELECT bucket,
           (sum(n_tokens) OVER (ORDER BY bucket))::BIGINT AS cum_tokens,
           (sum(new_types) OVER (ORDER BY bucket))::BIGINT AS cum_vocab,
           new_types::BIGINT AS new_types
    FROM j
    """,
)
def vocab_growth_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86 — Heaps'-law vocabulary growth (``text.vocab_growth``):
    cumulative distinct vocabulary and token volume per 50-doc ingest
    bucket.  The corpus shuffles ONCE (token-keyed, carrying only
    (min_bucket, count) per type); cumulative vocab at bucket b falls
    out of the first-occurrence identity #\\{types: min_bucket ≤ b\\} —
    never a per-prefix re-count.  A flattening curve = more data buys
    no new vocabulary; a jump = an ingest batch with a tokenizer or
    encoding regression."""
    from sync_cosmos_db_spark.operators.text import vocab_growth

    return vocab_growth(load_table(spark, sf_dir, "documents"),
                        bucket_size=50)


# ---------------------------------------------------------------------------
# X87 — key-skew diagnostics (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "skew_histogram_events_users",
    """
    WITH c AS (SELECT user_id, count(*)::DOUBLE AS c
               FROM events GROUP BY 1)
    SELECT floor(log2(c) + 1e-9)::BIGINT AS count_bucket,
           count(*)::BIGINT AS n_keys,
           sum(c)::BIGINT AS total_rows,
           max(c)::BIGINT AS max_count
    FROM c GROUP BY 1
    """,
)
def skew_histogram_events_users(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X87 — shuffle-skew pre-flight (``profiling.key_skew_histogram``):
    per-user event counts bucketed into powers of two — the histogram
    an operator reads to decide salt-vs-broadcast before a user-keyed
    join at scale (a populated high bucket = straggler partitions).
    One key-keyed count with map-side partials, then a ≤64-row
    re-aggregate; the +1e-9 epsilon absorbs sub-ulp libm differences
    at exact powers of two so both engines bucket identically."""
    from sync_cosmos_db_spark.operators.profiling import (
        key_skew_histogram,
    )

    return key_skew_histogram(load_table(spark, sf_dir, "events"),
                              "user_id")


# ===========================================================================
# merged from queries_r5b.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-5 extension operators, second batch (X88–X96 + the O2
pagination projection): binary-file ingestion, hive-partitioned pruned
layout, bounded-depth BFS, duplicate-cluster survivorship election,
oracle-checked stable pagination buckets, Theil–Sen robust trend,
day-of-week seasonality, TTL expiry sweep, share-of-total analytics,
and session path trigrams.

None of these exist in the reference (the closest is its page-at-a-time
container read loop, ``/root/reference/src/containers.py:55-89``, which
O2/`streaming/incremental.py` already re-expresses); they extend the
ingestion / layout / graph / curation surface mandated by
BASELINE.json.  Same contract as every query module: Spark-first plans,
DuckDB-recomputable oracles.
"""


import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X88 — binary-file ingestion (multimodal ingest plumbing)
# ---------------------------------------------------------------------------

@query(
    "binaryfile_ingest_documents",
    """
    SELECT doc_id, (octet_length(encode(text)) + 1)::BIGINT AS n_bytes,
           sha256(text || chr(10)) AS content_sha
    FROM documents WHERE doc_id < 100
    """,
)
def binaryfile_ingest_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X88 — opaque-file ingestion through Spark's built-in
    ``binaryFile`` source — the entry path for image/audio corpora
    (X5) where payloads arrive as FILES, not rows: write the first 100
    documents as one UTF-8 text file each (hive layout keyed by
    doc_id), read the directory back as binary blobs, recover the id
    from the PATH, and hash the bytes.  The oracle pins the full
    byte-level roundtrip (text sink appends exactly one ``\\n``).  At
    100 TB this is the same plan: binaryFile scans are
    per-file-partitioned, filters on path/length prune before any
    bytes load, and the decode is a narrow projection."""
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 100))
    path = os.path.join(scoped_tempdir("binaryfile_"), "docs")
    (docs.select("doc_id", "text")
     .repartition(8)
     .write.partitionBy("doc_id").mode("overwrite").text(path))
    blobs = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.txt")
             .option("recursiveFileLookup", "false")
             .load(path))
    return (blobs.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
        .cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha")))


# ---------------------------------------------------------------------------
# X89 — hive-partitioned layout + partition-pruned read
# ---------------------------------------------------------------------------

@query(
    "partition_pruned_read_en",
    """
    SELECT doc_id, lang, sha256(text) AS text_sha
    FROM documents WHERE lang = 'en'
    """,
)
def partition_pruned_read_en(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X89 — hive-style partitioned layout (``sinks.write_partitioned``
    keyed by ``lang``) read back under a partition predicate.  The
    filter resolves against DIRECTORY NAMES, not data — the scan's
    PartitionFilters prune every non-en directory before a single row
    is read (plan-asserted in tests/test_sinks.py), which is the
    difference between scanning 1/n_langs of 100 TB and all of it.
    The oracle pins that pruning moved bytes, not values."""
    from sync_cosmos_db_spark.sinks import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(scoped_tempdir("partsink_"), "docs")
    write_partitioned(docs, path, ["lang"])
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    return back.select("doc_id", F.col("lang").cast("string").alias("lang"),
                       F.sha2(F.col("text"), 256).alias("text_sha"))


# ---------------------------------------------------------------------------
# X90 — bounded-depth BFS (operators/graph.py)
# ---------------------------------------------------------------------------

@query(
    "bfs_3hop_nation1",
    """
    WITH RECURSIVE e AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    edges AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    seeds AS (SELECT c_custkey * 2 AS node FROM customer
              WHERE c_nationkey = 1),
    walk(node, hops) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT edges.dst, walk.hops + 1
      FROM walk JOIN edges ON edges.src = walk.node
      WHERE walk.hops < 3)
    SELECT node, min(hops)::BIGINT AS hops FROM walk GROUP BY node
    """,
)
def bfs_3hop_nation1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 — minimum-hop frontier (``graph.bfs_hops``): every node of
    the symmetric customer↔supplier trade graph within 3 hops of the
    nation-1 customer seed set — the blast-radius query (same node
    encoding and edge derivation as X27 PageRank).  The Spark loop is
    one frontier join + one visited anti-join per hop; the oracle is
    a bounded recursive CTE taking min(hops) — two mechanisms, one
    answer."""
    from sync_cosmos_db_spark.operators.graph import bfs_hops, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    raw = (li.join(o, li.l_orderkey == o.o_orderkey)
           .groupBy((F.col("o_custkey") * 2).alias("src"),
                    (F.col("l_suppkey") * 2 + 1).alias("dst"))
           .agg(F.count(F.lit(1)).alias("__n")))
    # symmetrize = ONE pass over the lineitem⋈orders aggregation; the
    # previous union-of-two-selects executed it once per direction
    # (round 15, the connected_components explode pattern).
    edges = symmetrize(raw.drop("__n"))
    seeds = (load_table(spark, sf_dir, "customer")
             .filter(F.col("c_nationkey") == 1)
             .select((F.col("c_custkey") * 2).alias("node")))
    return bfs_hops(edges, seeds, max_hops=3)


# ---------------------------------------------------------------------------
# X91 — duplicate-cluster survivorship (operators/dedup.py)
# ---------------------------------------------------------------------------

@query(
    "canonical_doc_election",
    """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text || ' zz yy' AS text, lang
      FROM documents WHERE doc_id % 11 = 0
    ),
    sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
            FROM corpus)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id AND a.lang = b.lang
      WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(list_distinct(list_concat(a.shingles, b.shingles)))
            >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT edges.a, reach.r FROM edges
      JOIN reach ON edges.b = reach.node
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    q AS (SELECT comp.component, comp.node,
                 length(corpus.text)::BIGINT AS ql
          FROM comp JOIN corpus ON corpus.doc_id = comp.node)
    SELECT component, count(*)::BIGINT AS n_members,
           max(ql) AS best_quality,
           min(node) FILTER (WHERE ql = best) AS canonical_id
    FROM (SELECT component, node, ql,
                 max(ql) OVER (PARTITION BY component) AS best
          FROM q) t
    GROUP BY component
    """,
)
def canonical_doc_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91 — survivorship election (``dedup.elect_canonical``): the
    step between near-dup detection and the curated corpus.  Exact
    Jaccard pairs (the X2 baseline corpus: documents ∪ ' zz yy'
    near-copies) → connected components → per cluster keep the
    longest member, lowest id on ties.  The Spark election is one
    cluster-keyed max-struct aggregate (membership lists never
    collect); the oracle re-derives pairs, clusters (recursive CTE),
    and the election (window + filtered min) independently."""
    from sync_cosmos_db_spark.operators.dedup import (
        elect_canonical, jaccard_pairs,
    )
    from sync_cosmos_db_spark.queries_llm import _corpus_with_near_dups

    corpus = (_corpus_with_near_dups(spark, sf_dir)
              .withColumn("__quality", F.length("text")))
    pairs = jaccard_pairs(corpus, id_col="doc_id", text_col="text",
                          threshold=0.5, n=3, block_col="lang")
    out = elect_canonical(pairs.select("id_a", "id_b"), corpus,
                          id_col="doc_id", quality_col="__quality")
    return out.select("component", "n_members", "best_quality",
                      "canonical_id")


# ---------------------------------------------------------------------------
# O2 projection — stable pagination buckets (streaming/incremental.py)
# ---------------------------------------------------------------------------

@query(
    "pagination_buckets_orders",
    """
    WITH b AS (
      SELECT translate(substr(sha256(o_orderkey::VARCHAR || ':page'),
                              1, 6), 'abcdef', '012345')::BIGINT % 8
               AS bucket,
             o_totalprice
      FROM orders)
    SELECT bucket, count(*)::BIGINT AS n_rows,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0
             AS sum_price
    FROM b GROUP BY bucket
    """,
)
def pagination_buckets_orders(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """O2 projection — stable pagination: the reference resumes
    container reads with continuation tokens
    (``/root/reference/src/containers.py:55-89``); the Spark
    re-expression pages by DETERMINISTIC KEY BUCKET so any worker can
    re-derive its page membership after restart
    (``streaming/incremental.key_bucket`` holds the production
    xxhash64 form; this query runs the sha2 twin from
    ``curation.hash_bucket``, whose SQL equivalent is documented and
    oracle-checked).  Every row lands in exactly one of 8 buckets —
    the per-bucket counts and sums reconcile against the full table,
    which is the resume-safety property O2 needs."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .withColumn("bucket", hash_bucket("o_orderkey", 8, "page"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 fsum("o_totalprice", 2).alias("sum_price")))


# ---------------------------------------------------------------------------
# X92 — Theil–Sen robust trend (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "theil_sen_monthly_revenue",
    """
    WITH m AS (
      SELECT o_orderpriority AS g,
             (year(o_orderdate) * 12 + month(o_orderdate))::DOUBLE AS x,
             sum(o_totalprice) AS y
      FROM orders GROUP BY 1, 2),
    pr AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS slope
           FROM m a JOIN m b ON a.g = b.g AND a.x < b.x),
    np AS (SELECT g, count(*)::BIGINT AS n_points FROM m GROUP BY 1)
    SELECT pr.g AS o_orderpriority, np.n_points,
           count(*)::BIGINT AS n_pairs,
           floor(quantile_cont(slope, 0.5) * 10000 + 0.5) / 10000 AS slope
    FROM pr JOIN np USING (g)
    GROUP BY pr.g, np.n_points
    """,
)
def theil_sen_monthly_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X92 — Theil–Sen robust slope (``profiling.theil_sen_slope``) of
    monthly revenue per order priority: the median-of-pairwise-slopes
    estimator that shrugs off up to ~29% corrupted months where the
    OLS trend (X29) follows them.  Runs on the PRE-AGGREGATED monthly
    series (the estimator's pair space is quadratic in points per
    group — aggregation level is the scale knob, stated in the
    operator contract)."""
    from sync_cosmos_db_spark.operators.profiling import theil_sen_slope

    monthly = (load_table(spark, sf_dir, "orders")
               .groupBy(F.col("o_orderpriority"),
                        (F.year("o_orderdate") * 12
                         + F.month("o_orderdate")).cast("double")
                        .alias("x"))
               .agg(F.sum("o_totalprice").alias("y")))
    return theil_sen_slope(monthly, "o_orderpriority", "x", "y")


# ---------------------------------------------------------------------------
# X93 — day-of-week seasonality profile
# ---------------------------------------------------------------------------

@query(
    "dow_seasonality_events",
    """
    WITH d AS (
      SELECT isodow(ts)::BIGINT AS iso_dow,
             sum(value) AS s, count(*)::DOUBLE AS c
      FROM events GROUP BY 1)
    SELECT iso_dow, c::BIGINT AS n_events,
           floor(s / c * 10000 + 0.5) / 10000 AS avg_value,
           floor((s / c) / (sum(s) OVER () / sum(c) OVER ())
                 * 10000 + 0.5) / 10000 AS seasonal_index
    FROM d
    """,
)
def dow_seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93 — day-of-week seasonal index of event value: per-ISO-dow
    mean over the global mean — the calendar-seasonality baseline a
    forecaster divides out (and an anomaly detector must NOT flag).
    One dow-keyed aggregate; the normalizing global mean is a window
    over the 7-ROW aggregate, never a second pass over events."""
    ev = load_table(spark, sf_dir, "events")
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    d = (ev.groupBy(iso.alias("iso_dow"))
         .agg(F.sum("value").alias("s"),
              F.count(F.lit(1)).cast("double").alias("c")))
    w = Window.partitionBy()
    p = 10 ** 4
    return d.select(
        "iso_dow", F.col("c").cast("long").alias("n_events"),
        (F.floor(F.col("s") / F.col("c") * p + F.lit(0.5)) / p)
        .alias("avg_value"),
        (F.floor((F.col("s") / F.col("c"))
                 / (F.sum("s").over(w) / F.sum("c").over(w)) * p
                 + F.lit(0.5)) / p).alias("seasonal_index"))


# ---------------------------------------------------------------------------
# X94 — TTL expiry sweep (Cosmos container-TTL semantics)
# ---------------------------------------------------------------------------

@query(
    "ttl_expiry_events",
    """
    SELECT event_type, count(*)::BIGINT AS n_total,
           sum(CASE WHEN epoch_us(ts) < m.mx - 7 * 86400000000::BIGINT
                    THEN 1 ELSE 0 END)::BIGINT AS n_expired,
           sum(CASE WHEN epoch_us(ts) >= m.mx - 7 * 86400000000::BIGINT
                    THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM events CROSS JOIN (SELECT max(epoch_us(ts)) AS mx FROM events) m
    GROUP BY event_type
    """,
)
def ttl_expiry_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94 — TTL expiry sweep: Cosmos DB containers expire documents
    ``DefaultTimeToLive`` seconds after their last write; the batch
    re-expression classifies every row against
    ``max(ts) − ttl`` (microsecond-exact) — the pre-migration audit
    that predicts how many source documents the connector will never
    see.  The watermark is a broadcast single-row aggregate (the
    q11-style scalar-subquery shape); one event-type-keyed aggregate
    does the rest."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("mx"))
    ttl_us = 7 * 86400 * 1_000_000
    expired = (F.unix_micros("ts") < F.col("mx") - F.lit(ttl_us))
    return (ev.crossJoin(F.broadcast(mx))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_total"),
                 F.sum(expired.cast("long")).cast("long")
                 .alias("n_expired"),
                 F.sum((~expired).cast("long")).cast("long")
                 .alias("n_kept")))


# ---------------------------------------------------------------------------
# X95 — share-of-total window analytics
# ---------------------------------------------------------------------------

@query(
    "nation_revenue_share",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2)
    SELECT region, nation,
           floor(rev * 100 + 0.5) / 100 AS revenue,
           floor(rev / sum(rev) OVER (PARTITION BY region)
                 * 1000000 + 0.5) / 1000000 AS region_share
    FROM rev
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95 — percent-of-parent analytics: each nation's share of its
    region's revenue — the ratio_to_report pattern every BI layer
    needs.  The heavy work is one groupBy over the order→customer→
    nation→region star (dimension joins broadcast); the share is a
    window over the ≤|nations|-row aggregate, so the normalization
    never rescans facts."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
           .agg(F.sum("o_totalprice").alias("rev")))
    w = Window.partitionBy("region")
    return rev.select(
        "region", "nation",
        (F.floor(F.col("rev") * 100 + F.lit(0.5)) / 100).alias("revenue"),
        (F.floor(F.col("rev") / F.sum("rev").over(w) * 1e6 + F.lit(0.5))
         / 1e6).alias("region_share"))


# ---------------------------------------------------------------------------
# X96 — session path trigrams (operators/behavioral.py)
# ---------------------------------------------------------------------------

@query(
    "session_path_trigrams",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                     > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, ts, event_id, event_type,
                 sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
          FROM o),
    tri AS (
      SELECT event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS path
      FROM s
      WINDOW w AS (PARTITION BY user_id, session_idx
                   ORDER BY ts, event_id))
    SELECT path, count(*)::BIGINT AS n
    FROM tri WHERE path IS NOT NULL
    GROUP BY path HAVING count(*) >= 5
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96 — top session paths: 3-step event-type sequences WITHIN a
    30-minute session (``behavioral.sessionize`` + two leads over the
    same (user, session, ts, id) sort), counted corpus-wide with a
    ≥5 support floor — the navigation-pattern miner behind "users who
    did X then Y then Z".  The trigram window reuses sessionize's
    partitioning (one sort serves three window functions); the count
    is a path-keyed aggregate over short strings."""
    from sync_cosmos_db_spark.operators.behavioral import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=1800)
    w = (Window.partitionBy("user_id", "session_idx")
         .orderBy(F.col("ts"), F.col("event_id")))
    tri = (s.withColumn("__l1", F.lead("event_type", 1).over(w))
           .withColumn("__l2", F.lead("event_type", 2).over(w))
           .filter(F.col("__l1").isNotNull() & F.col("__l2").isNotNull())
           .select(F.concat_ws(">", "event_type", "__l1", "__l2")
                   .alias("path")))
    return (tri.groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .filter(F.col("n") >= 5))


# ===========================================================================
# merged from queries_r5c.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-5 extension operators, third batch (X97–X105): trailing
windowed percentiles, per-dimension embedding health, join-cardinality
forecasting, Flesch readability profiling, CUBE with grouping_id,
cross-metric correlation, RFM segmentation, k-anonymity auditing,
VARIANT-typed dynamic document processing, OHLC resampling, A/B
experiment readouts, hashed feature vectorization, deterministic
label encoding, streaming OHLC bars, Poisson-bootstrap confidence
intervals, bounded-round Bellman–Ford, reset-segmented running
balances, period-over-period growth, contrastive negative sampling,
purchase-cadence profiling, the power-iteration top principal
component, and split-conformal interval calibration.

No reference counterpart (SURVEY.md §2.3); same contract as every
query module: Spark-first plans, DuckDB-recomputable oracles.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X97 — trailing-window percentile (p95 latency board metric)
# ---------------------------------------------------------------------------

@query(
    "trailing_p95_hourly_value",
    """
    WITH hv AS (SELECT date_trunc('hour', ts) AS h, value FROM events),
    hours AS (SELECT DISTINCT h FROM hv),
    r AS (SELECT hours.h AS hour, hv.value
          FROM hours JOIN hv ON hv.h <= hours.h
                            AND hv.h > hours.h - INTERVAL 6 HOUR)
    SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour,
           count(*)::BIGINT AS n_events,
           floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95
    FROM r GROUP BY hour
    """,
)
def trailing_p95_hourly_value(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X97 — trailing-6-hour p95 of event value per hour: the rolling
    tail-latency board metric.  A percentile cannot ride a window
    frame (not frame-mergeable), and the hours×events range join the
    oracle runs is quadratic — the Spark plan instead explodes each
    hour-bucketed value onto the ≤6 future hours it influences (a
    BOUNDED ×6 in-row expansion, the ``ewma_calendar`` shape) and
    runs one hour-keyed exact percentile; at 100 TB the same plan
    takes ``percentile_approx`` (sketch-mergeable partials)."""
    ev = load_table(spark, sf_dir, "events")
    hv = ev.select(F.date_trunc("hour", "ts").alias("h"), "value")
    present = hv.select("h").distinct()
    influenced = hv.select(
        "value",
        F.explode(F.sequence(
            F.col("h"), F.col("h") + F.expr("INTERVAL 5 HOURS"),
            F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    p = 10 ** 4
    return (influenced
            .join(present.select(F.col("h").alias("hour")), "hour", "semi")
            .groupBy("hour")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 (F.floor(F.expr("percentile(value, 0.95)") * p
                          + F.lit(0.5)) / p).alias("p95"))
            .select(F.date_format("hour", "yyyy-MM-dd HH:00")
                    .alias("hour"), "n_events", "p95"))


# ---------------------------------------------------------------------------
# X98 — per-dimension embedding health (operators/profiling.py)
# ---------------------------------------------------------------------------

@query(
    "embedding_dim_health",
    """
    WITH dv AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    st AS (SELECT dim, count(*)::BIGINT AS n, sum(v) AS s,
                  sum(v * v) AS ss
           FROM dv GROUP BY 1),
    m AS (SELECT dim, n,
                 floor(s / n * 1000000 + 0.5) / 1000000 AS mean,
                 floor(sqrt(ss / n - (s / n) * (s / n)) * 1000000 + 0.5)
                   / 1000000 AS std
          FROM st)
    SELECT m.dim, m.n, m.mean, m.std,
           sum(CASE WHEN abs(dv.v - m.mean) > 3.0 * m.std
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dv JOIN m USING (dim)
    GROUP BY m.dim, m.n, m.mean, m.std
    """,
)
def embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98 — per-dimension embedding audit
    (``profiling.embedding_dim_stats``): mean, population std, and
    >3σ outlier count for each of the 64 coordinates — catches dead
    dims (std ≈ 0), saturated dims, and scale drift between encoder
    versions before they poison cosine rankings or IVF training.
    One posexplode → dim-keyed sums → broadcast-back outlier count;
    rounding before the σ comparison keeps the classification
    engine-reproducible."""
    from sync_cosmos_db_spark.operators.profiling import (
        embedding_dim_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb, "embedding")


# ---------------------------------------------------------------------------
# X99 — join-cardinality forecast (shuffle sizing pre-flight)
# ---------------------------------------------------------------------------

@query(
    "join_cardinality_forecast",
    """
    WITH co AS (SELECT o_orderkey AS k, count(*)::BIGINT AS c
                FROM orders GROUP BY 1),
    cl AS (SELECT l_orderkey AS k, count(*)::BIGINT AS c
           FROM lineitem GROUP BY 1),
    j AS (SELECT co.c * cl.c AS contrib
          FROM co JOIN cl USING (k))
    SELECT count(*)::BIGINT AS n_keys_both,
           sum(contrib)::BIGINT AS predicted_rows,
           max(contrib)::BIGINT AS max_key_contribution,
           (SELECT count(*) FROM orders o JOIN lineitem l
             ON l.l_orderkey = o.o_orderkey)::BIGINT AS actual_rows
    FROM j
    """,
)
def join_cardinality_forecast(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X99 — forecast a join's output size BEFORE paying for it:
    Σ_k c_a(k)·c_b(k) over the two per-key count tables predicts the
    inner equi-join cardinality exactly, and max_k c_a·c_b is the
    straggler-partition indicator — the pre-flight that decides
    whether the full join is affordable and whether it needs salting
    (X87's sibling for two-table shuffles).  The two count aggregates
    cost one map-side-combined pass each (key-count rows only); the
    query also runs the actual join here so the oracle PROVES the
    forecast exact — at 100 TB you run only the cheap side."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    co = (o.groupBy(F.col("o_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).cast("long").alias("ca")))
    cl = (li.groupBy(F.col("l_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).cast("long").alias("cb")))
    j = co.join(cl, "k").withColumn("contrib", F.col("ca") * F.col("cb"))
    actual = (o.join(li, o.o_orderkey == li.l_orderkey)
              .agg(F.count(F.lit(1)).cast("long").alias("actual_rows")))
    return (j.agg(F.count(F.lit(1)).cast("long").alias("n_keys_both"),
                  F.sum("contrib").cast("long").alias("predicted_rows"),
                  F.max("contrib").cast("long")
                  .alias("max_key_contribution"))
            .crossJoin(F.broadcast(actual)))


# ---------------------------------------------------------------------------
# X100 — Flesch readability profile (operators/text.py)
# ---------------------------------------------------------------------------

@query(
    "flesch_by_source",
    """
    WITH d AS (
      SELECT source,
             206.835
             - 1.015 * (len(string_split_regex(text, '\\s+'))::DOUBLE
                 / greatest(1, len(string_split_regex(text, '[.!?]+'))
                            - 1))
             - 84.6 * ((len(string_split(
                   regexp_replace(lower(text), '[aeiouy]+', '#', 'g'),
                   '#')) - 1)::DOUBLE
                 / len(string_split_regex(text, '\\s+'))) AS fre
      FROM documents)
    SELECT source, count(*)::BIGINT AS n_docs,
           floor(avg(fre) * 10000 + 0.5) / 10000 AS avg_flesch,
           floor(min(fre) * 10000 + 0.5) / 10000 AS min_flesch
    FROM d GROUP BY source
    """,
)
def flesch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100 — Flesch reading-ease per source
    (``text.flesch_reading_ease``): vowel-group syllable estimate,
    terminator-run sentence count floored at 1 — the classic
    readability scorer quality pipelines bucket corpora with.  Pure
    single-pass row expressions (zero shuffle before the source
    groupBy); the oracle's ``regexp_replace`` carries the ``'g'``
    flag DuckDB needs where Java replaces globally by default."""
    from sync_cosmos_db_spark.operators.text import flesch_reading_ease

    docs = load_table(spark, sf_dir, "documents")
    p = 10 ** 4
    return (docs.withColumn("fre", flesch_reading_ease("text"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 (F.floor(F.avg("fre") * p + F.lit(0.5)) / p)
                 .alias("avg_flesch"),
                 (F.floor(F.min("fre") * p + F.lit(0.5)) / p)
                 .alias("min_flesch")))


# ---------------------------------------------------------------------------
# X101 — CUBE with grouping_id (SQL-surface completion)
# ---------------------------------------------------------------------------

@query(
    "cube_status_priority",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           (grouping(o_orderstatus) * 2 + grouping(o_orderpriority))
             ::BIGINT AS gid,
           count(*)::BIGINT AS n,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0 AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X101 — full CUBE over (status, priority) with an explicit
    ``grouping_id`` so consumers can tell a real NULL from a rollup
    row — the one GROUPING SETS shape X44's time hierarchy didn't
    cover.  Catalyst expands the cube into one grouping-sets
    aggregate (a single shuffle carrying each row once per grouping
    set — 4 here, a constant)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count(F.lit(1)).cast("long").alias("n"),
                 fsum("o_totalprice", 2).alias("revenue"))
            .select(F.coalesce("o_orderstatus", F.lit("<all>"))
                    .alias("status"),
                    F.coalesce("o_orderpriority", F.lit("<all>"))
                    .alias("priority"),
                    "gid", "n", "revenue"))


# ---------------------------------------------------------------------------
# X102 — cross-metric correlation (leading-indicator diagnostics)
# ---------------------------------------------------------------------------

@query(
    "view_purchase_hourly_corr",
    """
    WITH h AS (
      SELECT date_trunc('hour', ts) AS h,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               ::DOUBLE AS v,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::DOUBLE AS p
      FROM events GROUP BY 1),
    s AS (SELECT count(*)::DOUBLE AS n, sum(v) AS sv, sum(p) AS sp,
                 sum(v * v) AS svv, sum(p * p) AS spp,
                 sum(v * p) AS svp
          FROM h)
    SELECT n::BIGINT AS n_hours,
           floor((n * svp - sv * sp)
                 / sqrt((n * svv - sv * sv) * (n * spp - sp * sp))
                 * 1000000 + 0.5) / 1000000 AS r
    FROM s
    """,
)
def view_purchase_hourly_corr(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X102 — Pearson correlation between hourly view volume and
    hourly purchase volume: the leading-indicator sanity check behind
    "do views drive purchases".  One hour-keyed conditional-sum
    aggregate builds both series in a single events pass (no
    self-join of two filtered scans); the correlation assembles from
    explicit sufficient statistics (the ``corr_pairs`` discipline) so
    both engines compute it bit-comparably."""
    ev = load_table(spark, sf_dir, "events")
    h = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
         .agg(F.sum((F.col("event_type") == "view").cast("long"))
              .cast("double").alias("v"),
              F.sum((F.col("event_type") == "purchase").cast("long"))
              .cast("double").alias("p")))
    s = h.agg(F.count(F.lit(1)).cast("double").alias("n"),
              F.sum("v").alias("sv"), F.sum("p").alias("sp"),
              F.sum(F.col("v") * F.col("v")).alias("svv"),
              F.sum(F.col("p") * F.col("p")).alias("spp"),
              F.sum(F.col("v") * F.col("p")).alias("svp"))
    num = F.col("n") * F.col("svp") - F.col("sv") * F.col("sp")
    den = F.sqrt((F.col("n") * F.col("svv") - F.col("sv") * F.col("sv"))
                 * (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")))
    return s.select(F.col("n").cast("long").alias("n_hours"),
                    (F.floor(num / den * 1e6 + F.lit(0.5)) / 1e6)
                    .alias("r"))


# ---------------------------------------------------------------------------
# X103 — RFM segmentation
# ---------------------------------------------------------------------------

@query(
    "rfm_segment_counts",
    """
    WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT mxd FROM mx))
               AS recency_days,
             count(*)::BIGINT AS frequency,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0
               AS monetary
      FROM orders GROUP BY 1),
    scored AS (
      SELECT CASE WHEN recency_days <= 365 THEN 3
                  WHEN recency_days <= 730 THEN 2 ELSE 1 END AS r_score,
             CASE WHEN frequency >= 12 THEN 3
                  WHEN frequency >= 6 THEN 2 ELSE 1 END AS f_score,
             CASE WHEN monetary >= 1500000 THEN 3
                  WHEN monetary >= 750000 THEN 2 ELSE 1 END AS m_score,
             monetary
      FROM rfm)
    SELECT (r_score * 100 + f_score * 10 + m_score)::BIGINT AS segment,
           count(*)::BIGINT AS n_customers,
           sum(floor(monetary * 100 + 0.5)::BIGINT) / 100.0
             AS total_monetary
    FROM scored GROUP BY 1
    """,
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103 — RFM (recency / frequency / monetary) segmentation with
    FIXED score boundaries (the profiling-against-stable-bounds
    discipline of ``histogram_fixed``: drift stays visible instead of
    being renormalized away).  One customer-keyed aggregate; the
    reference recency anchor (max order date) is a broadcast
    single-row aggregate; scores are plain CASE arithmetic, so the
    227-cell segment table is oracle-exact."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    rfm = (o.groupBy("o_custkey")
           .agg(F.max("o_orderdate").alias("last_order"),
                F.count(F.lit(1)).cast("long").alias("frequency"),
                fsum("o_totalprice", 2).alias("monetary"))
           .crossJoin(F.broadcast(mx))
           .withColumn("recency_days",
                       F.datediff("mxd", "last_order")))
    r_s = (F.when(F.col("recency_days") <= 365, 3)
           .when(F.col("recency_days") <= 730, 2).otherwise(1))
    f_s = (F.when(F.col("frequency") >= 12, 3)
           .when(F.col("frequency") >= 6, 2).otherwise(1))
    m_s = (F.when(F.col("monetary") >= 1500000, 3)
           .when(F.col("monetary") >= 750000, 2).otherwise(1))
    return (rfm.withColumn("segment",
                           (r_s * 100 + f_s * 10 + m_s).cast("long"))
            .groupBy("segment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                 fsum("monetary", 2).alias("total_monetary")))


# ---------------------------------------------------------------------------
# X104 — k-anonymity audit (privacy / sanitizer companion)
# ---------------------------------------------------------------------------

@query(
    "k_anonymity_customers",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS grp
      FROM customer GROUP BY 1, 2)
    SELECT sum(CASE WHEN grp < 5 THEN 1 ELSE 0 END)::BIGINT
             AS n_small_groups,
           sum(CASE WHEN grp < 5 THEN grp ELSE 0 END)::BIGINT
             AS n_risky_rows,
           count(*)::BIGINT AS n_groups,
           min(grp) AS min_group,
           sum(grp)::BIGINT AS n_rows
    FROM g
    """,
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104 — k-anonymity audit over the (nationkey, mktsegment)
    quasi-identifier: rows in equivalence classes smaller than k=5
    are re-identifiable even after O19's column sanitization — this
    is the release gate that runs BEFORE a sanitized extract ships
    (the reference sanitizes values, ``src/sanitizer.py:6-63``, but
    never audits group sizes).  One quasi-id-keyed count plus a
    constant-size re-aggregate."""
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count(F.lit(1)).cast("long").alias("grp")))
    small = F.col("grp") < 5
    return g.agg(
        F.sum(small.cast("long")).cast("long").alias("n_small_groups"),
        F.sum(F.when(small, F.col("grp")).otherwise(0)).cast("long")
        .alias("n_risky_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("grp").alias("min_group"),
        F.sum("grp").cast("long").alias("n_rows"))


# ---------------------------------------------------------------------------
# X105 — VARIANT-typed dynamic documents (Spark 4 semi-structured type)
# ---------------------------------------------------------------------------

@query(
    "variant_dynamic_documents",
    """
    WITH payloads AS (
      SELECT CASE
        WHEN doc_id % 3 = 0 THEN
          '{"id": ' || doc_id || ', "meta": {"lang": "' || lang
          || '", "chars": ' || n_chars || '}}'
        WHEN doc_id % 3 = 1 THEN
          '{"id": ' || doc_id || ', "tags": ["' || source || '", "'
          || lang || '"]}'
        ELSE
          '{"id": ' || doc_id || ', "flat": ' || n_chars || '}'
      END AS payload
      FROM documents),
    x AS (
      SELECT (json_extract(payload, '$.id'))::BIGINT AS id,
             json_extract_string(payload, '$.meta.lang') AS meta_lang,
             (json_extract(payload, '$.meta.chars'))::BIGINT AS meta_chars,
             json_extract_string(payload, '$.tags[0]') AS tag0,
             (json_extract(payload, '$.flat'))::BIGINT AS flat
      FROM payloads)
    SELECT coalesce(meta_lang, tag0, '<flat>') AS bucket,
           count(*)::BIGINT AS n,
           sum(coalesce(meta_chars, flat, 0))::BIGINT AS total_chars,
           sum(CASE WHEN meta_lang IS NOT NULL THEN 1 ELSE 0 END)
             ::BIGINT AS n_with_meta
    FROM x GROUP BY 1
    """,
)
def variant_dynamic_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X105 — schemaless-document processing on Spark 4's native
    VARIANT type: three deliberately HETEROGENEOUS payload shapes
    (nested meta / tag array / flat scalar — the shape drift a real
    Cosmos container accumulates, SURVEY.md §1.3) parse ONCE with
    ``parse_json`` into variant, and every downstream path access is
    ``try_variant_get`` — typed, null-safe on missing paths, no
    schema inference pass and no per-shape DataFrame union.  This is
    the Spark-4-native upgrade over the X6/O8 era
    ``get_json_object`` string re-parsing: variant stores a parsed
    binary form, so repeated path access doesn't re-tokenize JSON.
    The oracle runs the same three shapes through DuckDB's JSON
    extraction."""
    docs = load_table(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit('{"id": '), F.col("doc_id"),
            F.lit(', "meta": {"lang": "'), F.col("lang"),
            F.lit('", "chars": '), F.col("n_chars"), F.lit("}}")))
        .when(F.col("doc_id") % 3 == 1, F.concat(
            F.lit('{"id": '), F.col("doc_id"),
            F.lit(', "tags": ["'), F.col("source"), F.lit('", "'),
            F.col("lang"), F.lit('"]}')))
        .otherwise(F.concat(
            F.lit('{"id": '), F.col("doc_id"),
            F.lit(', "flat": '), F.col("n_chars"), F.lit("}"))))
    v = docs.select(F.parse_json(payload).alias("v"))
    x = v.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.meta.lang", "string")
        .alias("meta_lang"),
        F.try_variant_get("v", "$.meta.chars", "long")
        .alias("meta_chars"),
        F.try_variant_get("v", "$.tags[0]", "string").alias("tag0"),
        F.try_variant_get("v", "$.flat", "long").alias("flat"))
    return (x.groupBy(F.coalesce("meta_lang", "tag0", F.lit("<flat>"))
                      .alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.coalesce("meta_chars", "flat", F.lit(0)))
                 .cast("long").alias("total_chars"),
                 F.sum(F.col("meta_lang").isNotNull().cast("long"))
                 .cast("long").alias("n_with_meta")))


# ---------------------------------------------------------------------------
# X106 — OHLC time-series resampling
# ---------------------------------------------------------------------------

@query(
    "ohlc_4h_by_event_type",
    """
    WITH b AS (
      SELECT event_type,
             (floor(epoch_us(ts) / 14400000000) * 14400)::BIGINT
               AS bucket_s,
             value, {'t': ts, 'v': value} AS tv
      FROM events)
    SELECT event_type, bucket_s, count(*)::BIGINT AS n,
           floor((min(tv)).v * 10000 + 0.5) / 10000 AS open,
           floor(max(value) * 10000 + 0.5) / 10000 AS high,
           floor(min(value) * 10000 + 0.5) / 10000 AS low,
           floor((max(tv)).v * 10000 + 0.5) / 10000 AS close
    FROM b GROUP BY event_type, bucket_s
    """,
)
def ohlc_4h_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106 — OHLC downsampling: per (event_type, 4-hour bar) the
    open/high/low/close of event value — the resample-to-bars
    operator every time-series store exposes.  Open/close pick the
    value at the earliest/latest timestamp via MIN/MAX over a
    (ts, value) STRUCT — pure aggregate ordering, no window, no sort,
    deterministic under ts ties (lexicographic tiebreak on value,
    identical in both engines).  One bucket-keyed aggregate with
    map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    bucket_s = (F.floor(F.unix_micros("ts") / 14400000000) * 14400) \
        .cast("long")
    tv = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
    p = 10 ** 4
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    return (ev.groupBy("event_type", bucket_s.alias("bucket_s"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 fr(F.min(tv).getField("v")).alias("open"),
                 fr(F.max("value")).alias("high"),
                 fr(F.min("value")).alias("low"),
                 fr(F.max(tv).getField("v")).alias("close")))


# ---------------------------------------------------------------------------
# X107 — A/B experiment conversion analysis
# ---------------------------------------------------------------------------

@query(
    "ab_experiment_conversion",
    """
    WITH arms AS (
      SELECT DISTINCT user_id,
             translate(substr(sha256(user_id::VARCHAR || ':exp1'), 1, 6),
                       'abcdef', '012345')::BIGINT % 2 AS arm
      FROM events),
    conv AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase'),
    per_arm AS (
      SELECT arm, count(*)::BIGINT AS n_users,
             sum(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
               ::BIGINT AS n_converters
      FROM arms LEFT JOIN conv USING (user_id)
      GROUP BY arm),
    w AS (SELECT
            max(CASE WHEN arm = 0 THEN n_users END) AS n0,
            max(CASE WHEN arm = 1 THEN n_users END) AS n1,
            max(CASE WHEN arm = 0 THEN n_converters END) AS c0,
            max(CASE WHEN arm = 1 THEN n_converters END) AS c1
          FROM per_arm)
    SELECT n0, n1, c0, c1,
           floor(c0::DOUBLE / n0 * 1000000 + 0.5) / 1000000 AS p0,
           floor(c1::DOUBLE / n1 * 1000000 + 0.5) / 1000000 AS p1,
           CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN 0.0
                ELSE floor((c1::DOUBLE / n1 - c0::DOUBLE / n0)
                     / sqrt(((c0 + c1)::DOUBLE / (n0 + n1))
                            * (1 - (c0 + c1)::DOUBLE / (n0 + n1))
                            * (1.0 / n0 + 1.0 / n1))
                     * 10000 + 0.5) / 10000 END AS z
    FROM w
    """,
)
def ab_experiment_conversion(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X107 — two-proportion experiment readout: users split into
    arms by the deterministic sha2 bucket (``curation.hash_bucket``
    — the rerun-stable, cross-engine-reproducible assignment a real
    experiment framework needs; never ``rand()``), per-arm converter
    counts, and the pooled two-proportion z statistic in closed form.
    Two user-keyed aggregates (arms, converters) + a left join on the
    shrunk user table; the z assembles from the 4-cell summary."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    arms = (ev.select("user_id").distinct()
            .withColumn("arm", hash_bucket("user_id", 2, "exp1")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id").distinct()
            .withColumn("__c", F.lit(1)))
    per_arm = (arms.join(conv, "user_id", "left")
               .groupBy("arm")
               .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                    F.sum(F.coalesce("__c", F.lit(0))).cast("long")
                    .alias("n_converters")))
    w = per_arm.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converters")))
        .alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converters")))
        .alias("c1"))
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = ((F.col("c0") + F.col("c1")).cast("double")
          / (F.col("n0") + F.col("n1")))
    # degenerate pools (0% or 100% conversion) have zero variance; z is
    # reported as 0.0 instead of dividing by zero (identical CASE in
    # the oracle — and Spark 4's ANSI mode would otherwise raise)
    z_raw = (p1 - p0) / F.sqrt(pp * (1 - pp)
                               * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    total_c = F.col("c0") + F.col("c1")
    total_n = F.col("n0") + F.col("n1")
    z = (F.when((total_c == 0) | (total_c == total_n), F.lit(0.0))
         .otherwise(F.floor(z_raw * 1e4 + F.lit(0.5)) / 1e4))
    return w.select(
        "n0", "n1", "c0", "c1",
        (F.floor(p0 * 1e6 + F.lit(0.5)) / 1e6).alias("p0"),
        (F.floor(p1 * 1e6 + F.lit(0.5)) / 1e6).alias("p1"),
        z.alias("z"))


# ---------------------------------------------------------------------------
# X108 — hashed feature vectorizer (operators/curation.py)
# ---------------------------------------------------------------------------

@query(
    "hashed_features_documents",
    """
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(text, '\\s+')) AS tok
      FROM documents),
    tf AS (SELECT id, tok FROM toks WHERE tok <> '')
    SELECT id,
           translate(substr(sha256(tok || ':feat'), 1, 6),
                     'abcdef', '012345')::BIGINT % 16 AS bucket,
           count(*)::BIGINT AS n
    FROM tf GROUP BY 1, 2
    """,
)
def hashed_features_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X108 — the hashing trick (``curation.hashed_features``):
    tokens → fixed 16-bucket feature space via the deterministic sha2
    bucket, (doc, bucket, count) rows out.  No vocabulary pass, no
    fit/transform split, no driver state — the one-scan vectorizer
    shape that survives 100 TB; the oracle recomputes every bucket
    assignment from the documented SQL twin."""
    from sync_cosmos_db_spark.operators.curation import hashed_features

    docs = load_table(spark, sf_dir, "documents")
    return hashed_features(docs, "doc_id", "text", dim=16, salt="feat")


# ---------------------------------------------------------------------------
# X109 — deterministic category indexing (operators/curation.py)
# ---------------------------------------------------------------------------

@query(
    "category_index_documents",
    """
    WITH pairs AS (
      SELECT 'lang' AS column_name, lang AS value FROM documents
      UNION ALL SELECT 'source', source FROM documents),
    counts AS (SELECT column_name, value, count(*)::BIGINT AS n_rows
               FROM pairs GROUP BY 1, 2)
    SELECT column_name, value,
           (row_number() OVER (PARTITION BY column_name
                               ORDER BY value) - 1)::BIGINT AS idx,
           n_rows
    FROM counts
    """,
)
def category_index_documents(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X109 — deterministic label encoding
    (``curation.category_index``): contiguous zero-based indices in
    sorted-value order for lang and source — rerun- and
    cluster-stable where frequency/arrival-ordered StringIndexers
    renumber when data moves.  The rank window runs over the
    vocabulary-sized count table, never the corpus."""
    from sync_cosmos_db_spark.operators.curation import category_index

    docs = load_table(spark, sf_dir, "documents")
    return category_index(docs, ["lang", "source"])


# ---------------------------------------------------------------------------
# X111 — Poisson-bootstrap confidence interval (operators/profiling.py)
# ---------------------------------------------------------------------------

_U6 = ("(('0x' || substr(h, 6 * j + 1, 6))::BIGINT)::DOUBLE"
       " / 16777216.0")

@query(
    "bootstrap_ci_order_price",
    f"""
    WITH base AS (
      SELECT o_orderkey::VARCHAR AS k, o_totalprice::DOUBLE AS x
      FROM orders),
    drawn AS (
      SELECT x, cc.c * 10 + jj.j AS b, jj.j AS j,
             sha256(k || ':' || cc.c || ':boot') AS h
      FROM base
      CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS c) cc
      CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS j) jj),
    u AS (SELECT b, x, {_U6} AS u FROM drawn),
    wt AS (SELECT b, x,
             CASE WHEN u < 0.367879441171 THEN 0
                  WHEN u < 0.735758882343 THEN 1
                  WHEN u < 0.919698602929 THEN 2
                  WHEN u < 0.981011843124 THEN 3
                  WHEN u < 0.996340153173 THEN 4
                  WHEN u < 0.999405815182 THEN 5
                  WHEN u < 0.999916758851 THEN 6
                  ELSE 7 END::DOUBLE AS w
           FROM u),
    means AS (SELECT b, sum(w * x) / sum(w) AS m
              FROM wt GROUP BY b HAVING sum(w) > 0),
    point AS (SELECT count(*)::BIGINT AS n_rows, avg(x) AS mp FROM base),
    ci AS (SELECT count(*)::BIGINT AS n_resamples,
                  quantile_cont(m, 0.025) AS lo,
                  quantile_cont(m, 0.975) AS hi
           FROM means)
    SELECT n_rows, n_resamples,
           floor(mp * 10000 + 0.5) / 10000 AS mean_point,
           floor(lo * 10000 + 0.5) / 10000 AS ci_lo,
           floor(hi * 10000 + 0.5) / 10000 AS ci_hi
    FROM point CROSS JOIN ci
    """,
)
def bootstrap_ci_order_price(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X111 — 95% CI for the mean order price via the POISSON
    bootstrap (``profiling.poisson_bootstrap_ci``): the at-scale
    bootstrap — no global row index, no per-resample shuffle, one
    bounded ×50 in-row expansion, every Poisson(1) draw derived
    deterministically from a sha256 digest through a true 16-alphabet
    uniform (the translate-digits bucket trick is biased; this path
    is exactly uniform) — so the ENTIRE resampling procedure, not
    just its summary, is oracle-reproducible.  Each digest
    sha256(key:chunk) feeds TEN resamples via its ten 6-hex-char
    windows: sha256 was ~95% of the plan cost, so this is a measured
    ~5× speedup (7.7s → ~1.5s at sf0.1) at identical statistical
    quality."""
    from sync_cosmos_db_spark.operators.profiling import (
        poisson_bootstrap_ci,
    )

    orders = load_table(spark, sf_dir, "orders")
    return poisson_bootstrap_ci(orders, "o_orderkey", "o_totalprice",
                                n_resamples=50, salt="boot")


# ---------------------------------------------------------------------------
# X112 — bounded-round Bellman–Ford (operators/graph.py)
# ---------------------------------------------------------------------------

@query(
    "bellman_ford_trade_distance",
    """
    WITH RECURSIVE e AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
             (4 - least(count(*), 3))::BIGINT AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    edges AS (SELECT src, dst, w FROM e
              UNION ALL SELECT dst, src, w FROM e),
    seeds AS (SELECT c_custkey * 2 AS node FROM customer
              WHERE c_nationkey = 1),
    walk(node, cost, hops) AS (
      SELECT node, 0::BIGINT, 0 FROM seeds
      UNION
      SELECT edges.dst, walk.cost + edges.w, walk.hops + 1
      FROM walk JOIN edges ON edges.src = walk.node
      WHERE walk.hops < 3)
    SELECT node, min(cost)::BIGINT AS cost FROM walk GROUP BY node
    """,
)
def bellman_ford_trade_distance(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X112 — weighted relationship distance (``graph.bellman_ford``):
    cheapest ≤3-edge path from the nation-1 customer seed set over
    the trade graph, edge cost 4 − min(lineitems, 3) so frequent
    trading partners are CLOSE — the weighted sibling of X90's BFS
    (cheapest route, not fewest hops).  Three relax rounds, each one
    src-keyed join + dst-keyed min + full-outer min merge; the oracle
    enumerates bounded-hop path states in a recursive CTE (states are
    finite because costs are bounded integers) and takes min —
    different mechanism, same answer by the Bellman–Ford invariant."""
    from sync_cosmos_db_spark.operators.graph import bellman_ford, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    raw = (li.join(o, li.l_orderkey == o.o_orderkey)
           .groupBy((F.col("o_custkey") * 2).alias("src"),
                    (F.col("l_suppkey") * 2 + 1).alias("dst"))
           .agg((4 - F.least(F.count(F.lit(1)), F.lit(3)))
                .cast("long").alias("w")))
    # symmetrize = ONE pass over the lineitem⋈orders aggregation; the
    # previous union-of-two-selects executed it once per direction
    # (round 15, the connected_components explode pattern).
    edges = symmetrize(raw)
    seeds = (load_table(spark, sf_dir, "customer")
             .filter(F.col("c_nationkey") == 1)
             .select((F.col("c_custkey") * 2).alias("node")))
    return bellman_ford(edges, seeds, rounds=3)


# ---------------------------------------------------------------------------
# X113 — running balance with conditional resets (segment window algebra)
# ---------------------------------------------------------------------------

@query(
    "running_value_since_signup",
    """
    WITH seg AS (
      SELECT user_id, ts, event_id, event_type, value,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS segment
      FROM events),
    run AS (
      SELECT user_id, segment, event_id,
             sum(CASE WHEN event_type = 'purchase' THEN value
                      ELSE 0 END)
               OVER (PARTITION BY user_id, segment ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS bal
      FROM seg)
    SELECT user_id, max(segment)::BIGINT AS n_segments,
           floor(max(bal) * 10000 + 0.5) / 10000 AS max_balance,
           count(*)::BIGINT AS n_events
    FROM run GROUP BY user_id
    """,
)
def running_value_since_signup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X113 — running balance with CONDITIONAL RESETS: cumulative
    purchase value per user that restarts at every signup event — the
    reset-at-marker accumulation (meter readings, balance-after-
    top-up, miles-since-service) that looks sequential but compiles
    to pure window algebra: the reset marker's own running COUNT
    becomes a segment id, and the balance is a second cumsum
    partitioned by (user, segment).  Both windows share one
    (user, ts, id) sort; no iteration, no state."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    order = (W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    seg = ev.withColumn(
        "segment",
        F.sum((F.col("event_type") == "signup").cast("long")).over(order))
    order2 = (W.partitionBy("user_id", "segment")
              .orderBy(F.col("ts"), F.col("event_id"))
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    run = seg.withColumn(
        "bal",
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))
              .otherwise(F.lit(0.0))).over(order2))
    p = 10 ** 4
    return (run.groupBy("user_id")
            .agg(F.max("segment").cast("long").alias("n_segments"),
                 (F.floor(F.max("bal") * p + F.lit(0.5)) / p)
                 .alias("max_balance"),
                 F.count(F.lit(1)).cast("long").alias("n_events")))


# ---------------------------------------------------------------------------
# X114 — period-over-period growth report
# ---------------------------------------------------------------------------

@query(
    "mom_revenue_growth",
    """
    WITH m AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT
               AS month_idx,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1),
    g AS (SELECT month_idx, rev,
                 lag(rev) OVER (ORDER BY month_idx) AS prev,
                 month_idx - lag(month_idx) OVER (ORDER BY month_idx)
                   AS gap
          FROM m)
    SELECT month_idx,
           floor(rev * 100 + 0.5) / 100 AS revenue,
           CASE WHEN prev IS NULL OR gap <> 1 THEN NULL
                ELSE floor((rev - prev) / prev * 1000000 + 0.5)
                     / 1000000 END AS mom_growth
    FROM g
    """,
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114 — month-over-month revenue growth: the period-over-period
    staple, with the subtle correctness detail most versions miss —
    growth is NULL (not computed against the wrong month) when the
    previous CALENDAR month is absent, detected by lagging the month
    index itself.  The lag window runs over the months-row aggregate,
    never the fact table."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    m = (o.groupBy((F.year("o_orderdate") * 12 + F.month("o_orderdate")
                    - 1).cast("long").alias("month_idx"))
         .agg(F.sum("o_totalprice").alias("rev")))
    w = W.orderBy("month_idx")
    g = (m.withColumn("prev", F.lag("rev").over(w))
         .withColumn("gap",
                     F.col("month_idx") - F.lag("month_idx").over(w)))
    growth = (F.when(F.col("prev").isNull() | (F.col("gap") != 1),
                     F.lit(None).cast("double"))
              .otherwise(F.floor((F.col("rev") - F.col("prev"))
                                 / F.col("prev") * 1e6 + F.lit(0.5))
                         / 1e6))
    return g.select("month_idx",
                    (F.floor(F.col("rev") * 100 + F.lit(0.5)) / 100)
                    .alias("revenue"),
                    growth.alias("mom_growth"))


# ---------------------------------------------------------------------------
# X115 — contrastive negative sampling
# ---------------------------------------------------------------------------

@query(
    "negative_samples_embeddings",
    """
    WITH n AS (SELECT (max(vec_id) + 1)::BIGINT AS n FROM embeddings),
    draws AS (
      SELECT e.vec_id AS anchor, e.label AS a_label, d.i,
             translate(substr(sha256(e.vec_id::VARCHAR || ':'
                                     || d.i || ':neg'), 1, 6),
                       'abcdef', '012345')::BIGINT % n.n AS cand
      FROM embeddings e
      CROSS JOIN n
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) d),
    labeled AS (
      SELECT draws.anchor, draws.i, draws.cand, draws.a_label,
             c.label AS c_label
      FROM draws JOIN embeddings c ON c.vec_id = draws.cand)
    SELECT anchor, i AS draw_idx, cand AS negative
    FROM labeled
    WHERE cand <> anchor AND c_label <> a_label
    """,
)
def negative_samples_embeddings(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X115 — deterministic negative sampling for contrastive
    training: each anchor draws 4 candidate ids from the dense id
    domain via the sha2 bucket, keeps those with a DIFFERENT label
    (rejection, so anchors yield ≤4 negatives — the standard
    approximate-k contract; exact-k would need per-anchor ranked
    scans).  Rerun/cluster-stable (never ``rand()``), and the
    candidate's label arrives by an id-keyed EQUI-join against the
    corpus — the shape that still works when the corpus is 10B rows
    and labels don't fit anywhere's memory.  The id-domain size is a
    broadcast single-row aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg((F.max("vec_id") + 1).cast("long").alias("n"))
    draws = (emb.select(F.col("vec_id").alias("anchor"),
                        F.col("label").alias("a_label"))
             .crossJoin(F.broadcast(n))
             .select("anchor", "a_label", "n",
                     F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"))
             .withColumn("__h", F.sha2(F.concat_ws(
                 ":", F.col("anchor"), F.col("i"), F.lit("neg")), 256))
             .withColumn("cand", F.pmod(
                 F.translate(F.substring("__h", 1, 6),
                             "abcdef", "012345").cast("bigint"),
                 F.col("n"))))
    cand_labels = emb.select(F.col("vec_id").alias("cand"),
                             F.col("label").alias("c_label"))
    return (draws.join(cand_labels, "cand")
            .filter((F.col("cand") != F.col("anchor"))
                    & (F.col("c_label") != F.col("a_label")))
            .select("anchor", F.col("i").alias("draw_idx"),
                    F.col("cand").alias("negative")))


# ---------------------------------------------------------------------------
# X116 — purchase-cadence profile (inter-event interval statistics)
# ---------------------------------------------------------------------------

@query(
    "purchase_cadence_profile",
    """
    WITH p AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type = 'purchase'),
    gaps AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(prev)) / 1000000.0 AS gap_s
      FROM p WHERE prev IS NOT NULL),
    per_user AS (
      SELECT user_id, count(*)::BIGINT AS n_gaps,
             quantile_cont(gap_s, 0.5) AS med_gap
      FROM gaps GROUP BY 1)
    SELECT count(*)::BIGINT AS n_repeat_buyers,
           floor(quantile_cont(med_gap, 0.5) * 10000 + 0.5) / 10000
             AS median_user_cadence_s,
           floor(quantile_cont(med_gap, 0.9) * 10000 + 0.5) / 10000
             AS p90_user_cadence_s,
           sum(n_gaps)::BIGINT AS n_intervals
    FROM per_user
    """,
)
def purchase_cadence_profile(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X116 — purchase cadence: each repeat buyer's MEDIAN
    inter-purchase interval, summarized across users (median and p90
    of the per-user medians) — the retention-health number a growth
    team watches.  Per-user lag over one (user, ts, id) sort,
    microsecond-exact gap arithmetic, then two percentile aggregates
    over strictly shrinking tables (gaps → users → one row)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    p = (ev.filter(F.col("event_type") == "purchase")
         .withColumn("prev", F.lag("ts").over(w))
         .filter(F.col("prev").isNotNull())
         .withColumn("gap_s",
                     (F.unix_micros("ts") - F.unix_micros("prev"))
                     / 1e6))
    per_user = (p.groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"),
                     F.expr("percentile(gap_s, 0.5)").alias("med_gap")))
    r = 10 ** 4
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_repeat_buyers"),
        (F.floor(F.expr("percentile(med_gap, 0.5)") * r + F.lit(0.5)) / r)
        .alias("median_user_cadence_s"),
        (F.floor(F.expr("percentile(med_gap, 0.9)") * r + F.lit(0.5)) / r)
        .alias("p90_user_cadence_s"),
        F.sum("n_gaps").cast("long").alias("n_intervals"))


# ---------------------------------------------------------------------------
# X117 — power-iteration top principal component (operators/profiling.py)
# ---------------------------------------------------------------------------

def _power_iter_oracle(n_iter: int = 3) -> str:
    head = """
    WITH dv0 AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings),
    mu AS (SELECT dim, floor(avg(x) * 1e10 + 0.5) / 1e10 AS mu
           FROM dv0 GROUP BY dim),
    dv AS (SELECT vec_id, dv0.dim, x - mu AS x
           FROM dv0 JOIN mu USING (dim)),
    nr AS (SELECT count(DISTINCT vec_id)::DOUBLE AS n FROM dv0),
    v0 AS (SELECT dim, CASE WHEN dim = 0 THEN 1.0 ELSE 0.0 END AS val
           FROM mu)"""
    its = []
    for k in range(1, n_iter + 1):
        its.append(f""",
    d{k} AS (SELECT vec_id, sum(dv.x * v{k - 1}.val) AS d
           FROM dv JOIN v{k - 1} USING (dim) GROUP BY vec_id),
    s{k} AS (SELECT dim, sum(dv.x * d{k}.d) AS s
           FROM dv JOIN d{k} USING (vec_id) GROUP BY dim),
    v{k} AS (SELECT dim,
                  floor(s / (SELECT sqrt(sum(s * s)) FROM s{k})
                        * 1e10 + 0.5) / 1e10 AS val
           FROM s{k})""")
    tail = f"""
    SELECT v{n_iter}.dim,
           floor(v{n_iter}.val * 1000000 + 0.5) / 1000000 AS loading,
           floor((SELECT sqrt(sum(s * s)) FROM s{n_iter})
                 / (SELECT n FROM nr) * 10000 + 0.5) / 10000
             AS eigenvalue
    FROM v{n_iter}"""
    return head + "".join(its) + tail


@query("embedding_top_pc", _power_iter_oracle(3))
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117 — top principal component of the embedding cloud by
    distributed power iteration (``profiling.power_iteration_pc``):
    the whitening/debiasing axis (all-but-the-top) and the
    encoder-collapse detector.  The dim² covariance matrix is never
    materialized — s = Σ x(x·v) per iteration with an in-row
    broadcast-literal dot and ONE (dim, partial) shuffle; driver
    state is O(dim).  v is floor-rounded to 10 decimals after every
    normalization ON BOTH ENGINES, so summation-order ulps cannot
    compound; the oracle replays the identical 3-iteration schedule
    as chained SQL CTEs."""
    from sync_cosmos_db_spark.operators.profiling import (
        power_iteration_pc,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_pc(emb, "embedding", n_iter=3)


# ---------------------------------------------------------------------------
# X118 — split-conformal interval calibration
# ---------------------------------------------------------------------------

@query(
    "conformal_calibration_events",
    """
    WITH split AS (
      SELECT event_id, user_id, value,
             translate(substr(sha256(event_id::VARCHAR || ':conf'),
                              1, 6), 'abcdef', '012345')::BIGINT % 3
               AS fold
      FROM events),
    model AS (SELECT user_id, avg(value) AS pred
              FROM split WHERE fold = 0 GROUP BY 1),
    samp AS (SELECT abs(s.value - m.pred) AS score
             FROM split s JOIN model m USING (user_id)
             WHERE s.fold = 1
             ORDER BY sha256(s.event_id::VARCHAR || ':csel')
             LIMIT 1024),
    nc AS (SELECT count(*)::BIGINT AS n_calib FROM samp),
    k AS (SELECT least(ceil((n_calib + 1) * 0.9)::BIGINT, n_calib)
            AS k, n_calib
          FROM nc),
    qh AS (SELECT max(score) AS q_hat FROM (
             SELECT score FROM samp ORDER BY score
             LIMIT (SELECT k FROM k))),
    test AS (SELECT abs(s.value - m.pred) AS err
             FROM split s JOIN model m USING (user_id)
             WHERE s.fold = 2)
    SELECT (SELECT n_calib FROM k) AS n_calib,
           count(*)::BIGINT AS n_test,
           floor((SELECT q_hat FROM qh) * 10000 + 0.5) / 10000 AS q_hat,
           floor(avg(CASE WHEN err <= (SELECT q_hat FROM qh)
                          THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000
             AS coverage
    FROM test
    """,
)
def conformal_calibration_events(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X118 — split-conformal prediction-interval calibration
    (``profiling.conformal_calibration``): THREE disjoint sha2 folds
    (fit / calibrate / test — in-sample residuals are biased small
    and under-cover, round-5 advice), the
    ceil((n+1)·0.9)-th order statistic of a FIXED-SIZE hash-ranked
    calibration sample (1024 scores; exchangeable by hash symmetry,
    so the finite-sample guarantee holds at the sample size) as q̂,
    and empirical coverage of ±q̂ on the untouched test fold.  The
    sample bound is enforced by the ``MAX_CALIB_K`` guard — the
    order-statistic top-k can never grow with the corpus (round-5
    verdict item 2)."""
    from sync_cosmos_db_spark.operators.profiling import (
        conformal_calibration,
    )

    ev = load_table(spark, sf_dir, "events")
    return conformal_calibration(ev, "event_id", "user_id", "value",
                                 alpha=0.1, calib_k=1024, salt="conf")
