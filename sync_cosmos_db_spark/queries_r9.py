"""Round-9 registrations: pipeline-selection operators (X255-X258)
and the later round-9 families (X259-X285), in registration order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fsum, query
from sync_cosmos_db_spark.session import load_table

# ---------------------------------------------------------------------------
# X255 — greedy token-budget corpus selection
# ---------------------------------------------------------------------------

_BUDGET = 30_000

_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         floor(len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')) * 1e6 + 0.5) / 1e6 AS score
  FROM documents),
r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM t),
c AS (SELECT *, coalesce(sum(n_tokens) OVER (
        ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        0) AS tokens_before
      FROM r)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, score,
       tokens_before::BIGINT AS tokens_before
FROM c WHERE tokens_before < {_BUDGET}
"""


@query("token_budget_select_documents", _BUDGET_ORACLE)
def token_budget_select_documents(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """X255 — fill a fixed token budget with the best documents:
    lexical-diversity score (distinct/total tokens, floor-rounded
    1e-6), global (score DESC, doc_id) rank via the two-phase
    distributed index, running token total via the two-phase prefix
    scan — NO single-partition window (``curation.
    token_budget_select``); the oracle replays the same greedy prefix
    with plain SQL windows."""
    from sync_cosmos_db_spark.operators.curation import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.floor(F.size(F.array_distinct(toks)).cast("double")
                 / F.size(toks) * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
    return token_budget_select(scored, "doc_id", "score", "n_tokens",
                               budget=_BUDGET)


# ---------------------------------------------------------------------------
# X256 — curriculum ordering with source interleaving
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents),
s AS (SELECT source AS src,
             row_number() OVER (ORDER BY source) AS source_rank,
             count(*) OVER () AS n_sources
      FROM (SELECT DISTINCT source FROM t)),
r AS (SELECT doc_id, t.source, n_tokens,
             row_number() OVER (PARTITION BY t.source
                                ORDER BY n_tokens, doc_id)
               AS rank_in_source,
             source_rank, n_sources
      FROM t JOIN s ON s.src = t.source)
SELECT doc_id, source, rank_in_source::BIGINT AS rank_in_source,
       ((rank_in_source - 1) * n_sources + source_rank)::BIGINT
         AS position
FROM r
"""


@query("curriculum_interleave_documents", _CURRICULUM_ORACLE)
def curriculum_interleave_documents(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """X256 — length-based curriculum order with round-robin source
    interleaving: rank docs within each source easiest-first
    (n_tokens ASC), then place rank r of source s at global position
    ``(r-1)·|sources| + source_rank`` — the closed form avoids the
    single-partition global window entirely (the X151 lesson): one
    source-keyed rank window + a broadcast |sources|-row dim join.
    Positions are unique by construction; gaps appear once a source
    exhausts (the consumer reads in position order)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source",
                    F.size(F.split(F.col("text"), " ")).cast("long")
                    .alias("n_tokens"))
    sources = (t.select("source").distinct()
               .withColumn("source_rank",
                           F.row_number().over(W.orderBy("source"))
                           .cast("long")))
    n_src = sources.agg(F.count(F.lit(1)).alias("n_sources"))
    rk = F.row_number().over(
        W.partitionBy("source").orderBy("n_tokens", "doc_id")).cast("long")
    return (t.withColumn("rank_in_source", rk)
            .join(F.broadcast(sources), "source")
            .crossJoin(F.broadcast(n_src))
            .select("doc_id", "source", "rank_in_source",
                    ((F.col("rank_in_source") - 1) * F.col("n_sources")
                     + F.col("source_rank")).alias("position")))


# ---------------------------------------------------------------------------
# X257 — temperature-scaled mixture weights
# ---------------------------------------------------------------------------

_TEMP_ORACLE = """
WITH c AS (SELECT lang AS "group", count(*)::DOUBLE AS n
           FROM documents GROUP BY lang),
p AS (SELECT "group", n,
             floor(pow(n, 0.7) * 1e8 + 0.5) / 1e8 AS pn FROM c),
s AS (SELECT sum(pn) AS tot FROM p)
SELECT "group", n::BIGINT AS n,
       floor(pn / tot * 1e6 + 0.5) / 1e6 AS weight,
       floor(pn / tot * 1000000.0 / n * 1e4 + 0.5) / 1e4 AS epochs
FROM p, s ORDER BY "group"
"""


@query("mixture_temperature_weights", _TEMP_ORACLE)
def mixture_temperature_weights(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X257 — τ=0.7 temperature sampling weights per language plus the
    implied replay epochs at a 1M-token target (``curation.
    temperature_mixture_weights``): the standard multilingual
    rebalancing rule, one group count + a broadcast total; ``pow``
    floor-rounded at 1e-8 before the normalizing sum on both engines
    (libm vs JDK last-ulp discipline)."""
    from sync_cosmos_db_spark.operators.curation import (
        temperature_mixture_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (temperature_mixture_weights(docs, "lang", tau=0.7,
                                        token_target=1_000_000.0)
            .orderBy("group"))


# ---------------------------------------------------------------------------
# X258 — MinHash estimator calibration (the estimator-accuracy twin:
# the containment twins pin the LSH pipeline; this pins the SIGNATURE
# math itself against exact Jaccard)
# ---------------------------------------------------------------------------

_CALIB_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0),
tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
        FROM corpus),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 100000
  WHERE a.doc_id % 7 = 0 AND a.doc_id < 100000
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 20 = 0 AND a.doc_id < 100000)
SELECT id_a, id_b,
       floor(len(list_intersect(ta.tk, tb.tk))::DOUBLE
             / (len(ta.tk) + len(tb.tk)
                - len(list_intersect(ta.tk, tb.tk)))
             * 1e6 + 0.5) / 1e6 AS exact_j,
       0 AS n_violations
FROM pairs
JOIN tok ta ON ta.doc_id = id_a
JOIN tok tb ON tb.doc_id = id_b
"""


@query("minhash_estimate_calibration", _CALIB_ORACLE)
def minhash_estimate_calibration(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X258 — MinHash accuracy invariant, hash-checkable: over a
    deterministic arithmetic pair set (every doc_id%7 twin at J=1 plus
    every (doc_id%20, doc_id+1) adjacent pair at organic J), the
    64-hash signature agreement estimate must sit within ±0.30 of the
    exact unigram Jaccard (≈5σ at k=64; the sketch is deterministic
    for fixed data, so the bound is repeatable, not flaky).  Spark
    emits the exact Jaccard and the violation count (must be 0); the
    oracle recomputes the exact side independently with DuckDB list
    algebra.  One narrow signature pass over the corpus + two id-keyed
    joins — never an all-pairs scan."""
    from sync_cosmos_db_spark.operators.dedup import (
        hashed_shingles,
        minhash_signatures,
    )
    from sync_cosmos_db_spark.queries_llm import _corpus_with_exact_dups

    k = 64
    corpus = _corpus_with_exact_dups(spark, sf_dir).select("doc_id", "text")
    shingled = corpus.select(
        "doc_id", hashed_shingles("text", 1).alias("__sh"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("__tk"))
    sigs = minhash_signatures(shingled, "doc_id", "__sh", num_hashes=k)
    both = (shingled.select("doc_id", "__tk")
            .join(sigs, "doc_id"))
    a = both.select(F.col("doc_id").alias("id_a"),
                    F.col("__tk").alias("__tka"),
                    F.col("__sig").alias("__siga"))
    b = both.select(F.col("doc_id").alias("id_b"),
                    F.col("__tk").alias("__tkb"),
                    F.col("__sig").alias("__sigb"))
    twins = (a.filter((F.col("id_a") % 7 == 0) & (F.col("id_a") < 100000))
             .join(b, F.col("id_b") == F.col("id_a") + 100000))
    adj = (a.filter((F.col("id_a") % 20 == 0) & (F.col("id_a") < 100000))
           .join(b, F.col("id_b") == F.col("id_a") + 1))
    pairs = twins.unionByName(adj)
    inter = F.size(F.array_intersect("__tka", "__tkb")).cast("double")
    union = (F.size("__tka") + F.size("__tkb")
             - F.size(F.array_intersect("__tka", "__tkb")))
    exact_j = F.floor(inter / union * 1e6 + F.lit(0.5)) / 1e6
    est = (F.aggregate(
        F.zip_with("__siga", "__sigb",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x).cast("double") / k)
    return (pairs
            .withColumn("exact_j", exact_j)
            .withColumn("__est", est)
            .select("id_a", "id_b", "exact_j",
                    F.when(F.abs(F.col("__est") - F.col("exact_j"))
                           > 0.30, 1).otherwise(0).cast("int")
                    .alias("n_violations")))


# ---------------------------------------------------------------------------
# X259 — difference-in-differences estimator
# ---------------------------------------------------------------------------

_DID_CUTOFF = "2024-01-16"

_DID_ORACLE = f"""
WITH e AS (
  SELECT event_type,
         CASE WHEN translate(substr(sha256(user_id::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS treat,
         CASE WHEN ts < TIMESTAMP '{_DID_CUTOFF} 00:00:00'
              THEN 1 ELSE 0 END AS pre,
         floor(value * 1e6 + 0.5)::BIGINT AS vi
  FROM events),
cells AS (
  SELECT event_type,
         count(*) FILTER (treat = 1 AND pre = 1)  AS n_t_pre,
         count(*) FILTER (treat = 1 AND pre = 0)  AS n_t_post,
         count(*) FILTER (treat = 0 AND pre = 1)  AS n_c_pre,
         count(*) FILTER (treat = 0 AND pre = 0)  AS n_c_post,
         floor((sum(vi) FILTER (treat = 1 AND pre = 1))::DOUBLE
               / count(*) FILTER (treat = 1 AND pre = 1)
               + 0.5) / 1e6 AS m_t_pre,
         floor((sum(vi) FILTER (treat = 1 AND pre = 0))::DOUBLE
               / count(*) FILTER (treat = 1 AND pre = 0)
               + 0.5) / 1e6 AS m_t_post,
         floor((sum(vi) FILTER (treat = 0 AND pre = 1))::DOUBLE
               / count(*) FILTER (treat = 0 AND pre = 1)
               + 0.5) / 1e6 AS m_c_pre,
         floor((sum(vi) FILTER (treat = 0 AND pre = 0))::DOUBLE
               / count(*) FILTER (treat = 0 AND pre = 0)
               + 0.5) / 1e6 AS m_c_post
  FROM e GROUP BY event_type)
SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
       m_t_pre, m_t_post, m_c_pre, m_c_post,
       floor(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
             * 1e6 + 0.5) / 1e6 AS did
FROM cells
"""


@query("did_event_value", _DID_ORACLE)
def did_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X259 — difference-in-differences per event type: users split
    into treat/control by the deterministic sha2 bucket (never
    ``rand()`` — the X9 split discipline), periods split at a fixed
    cutoff date, and the DiD estimate is the classic
    ``(T_post - T_pre) - (C_post - C_pre)`` of cell means.  One
    conditional-aggregate pass (map-side partial agg, one shuffle on
    event_type); the DiD is differenced from the 1e-6-rounded cell
    means so both engines run identical arithmetic.  Complements X141
    (CUPED) and X253 (MDE): the observational-panel estimator of the
    experimentation family."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    treat = (hash_bucket("user_id", 2, "did") == 1)
    pre = F.col("ts") < F.lit(_DID_CUTOFF).cast("timestamp")

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    # cell means from EXACT integer-micro sums (sum(vi)::double / n,
    # floored on the grid): avg(value) is an unordered double reduce
    # whose 1e-6 floor can flip between engines at sf0.1 cell sizes
    vi = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")

    def m(cond):
        return (F.floor(F.sum(F.when(cond, vi)).cast("double")
                        / F.count(F.when(cond, 1)) + F.lit(0.5)) / 1e6)

    cells = ev.groupBy("event_type").agg(
        F.count(F.when(treat & pre, 1)).alias("n_t_pre"),
        F.count(F.when(treat & ~pre, 1)).alias("n_t_post"),
        F.count(F.when(~treat & pre, 1)).alias("n_c_pre"),
        F.count(F.when(~treat & ~pre, 1)).alias("n_c_post"),
        m(treat & pre).alias("m_t_pre"),
        m(treat & ~pre).alias("m_t_post"),
        m(~treat & pre).alias("m_c_pre"),
        m(~treat & ~pre).alias("m_c_post"))
    return cells.withColumn(
        "did",
        r6((F.col("m_t_post") - F.col("m_t_pre"))
           - (F.col("m_c_post") - F.col("m_c_pre"))))


# ---------------------------------------------------------------------------
# X260 — Western Electric control-chart rules
# ---------------------------------------------------------------------------

_WE_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(o_orderdate AS DATE) AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
z AS (
  SELECT priority, day, cents,
         floor((cents - avg(cents) OVER (PARTITION BY priority))
               / stddev_pop(cents) OVER (PARTITION BY priority)
               * 1e6 + 0.5) / 1e6 AS zscore,
         row_number() OVER (PARTITION BY priority ORDER BY day) AS rn
  FROM daily),
w AS (
  SELECT priority, day, zscore, rn,
         sum(CASE WHEN zscore >  2 THEN 1 ELSE 0 END) OVER w3 AS hi2,
         sum(CASE WHEN zscore < -2 THEN 1 ELSE 0 END) OVER w3 AS lo2,
         sum(CASE WHEN zscore >  1 THEN 1 ELSE 0 END) OVER w5 AS hi1,
         sum(CASE WHEN zscore < -1 THEN 1 ELSE 0 END) OVER w5 AS lo1,
         sum(CASE WHEN zscore >  0 THEN 1 ELSE 0 END) OVER w8 AS hi0,
         sum(CASE WHEN zscore <  0 THEN 1 ELSE 0 END) OVER w8 AS lo0
  FROM z
  WINDOW
    w3 AS (PARTITION BY priority ORDER BY day
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
    w5 AS (PARTITION BY priority ORDER BY day
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
    w8 AS (PARTITION BY priority ORDER BY day
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
flags AS (
  SELECT priority, day, zscore,
         CASE WHEN abs(zscore) > 3 THEN 1 ELSE 0 END AS r1,
         CASE WHEN rn >= 3 AND (hi2 >= 2 OR lo2 >= 2)
              THEN 1 ELSE 0 END AS r2,
         CASE WHEN rn >= 5 AND (hi1 >= 4 OR lo1 >= 4)
              THEN 1 ELSE 0 END AS r3,
         CASE WHEN rn >= 8 AND (hi0 = 8 OR lo0 = 8)
              THEN 1 ELSE 0 END AS r4
  FROM w)
SELECT priority, day, zscore, r1, r2, r3, r4,
       r1 + 2 * r2 + 4 * r3 + 8 * r4 AS rule_mask
FROM flags
WHERE r1 + r2 + r3 + r4 > 0
"""


@query("control_rules_daily_revenue", _WE_ORACLE)
def control_rules_daily_revenue(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X260 — Western Electric control-chart rules over the daily
    revenue series per order priority: R1 |z|>3; R2 ≥2 of the last 3
    beyond 2σ on the same side; R3 ≥4 of the last 5 beyond 1σ on the
    same side; R4 all of the last 8 on the same side of the mean.
    Baseline mean/σ are per-priority partitioned window aggregates
    (integer-cents revenue so the sums are exact); the z-score is
    1e-6-rounded BEFORE any rule comparison so both engines evaluate
    the rules on identical values; incomplete leading windows never
    fire (``rn >= window`` guard).  All windows are partitioned by
    priority — no single-partition exchange, scales with the series
    count.  Complements X128 (CUSUM) and X234 (rolling robust z) with
    the classic run-rules alarm vocabulary."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderpriority").alias("priority"),
                       F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                        .cast("bigint")).alias("cents")))
    part = W.partitionBy("priority")
    zscore = (F.floor((F.col("cents") - F.avg("cents").over(part))
                      / F.stddev_pop("cents").over(part)
                      * 1e6 + F.lit(0.5)) / 1e6)
    seq = W.partitionBy("priority").orderBy("day")
    z = (daily.withColumn("zscore", zscore)
         .withColumn("rn", F.row_number().over(seq)))
    w3 = seq.rowsBetween(-2, 0)
    w5 = seq.rowsBetween(-4, 0)
    w8 = seq.rowsBetween(-7, 0)

    def cnt(cond, w):
        return F.sum(F.when(cond, 1).otherwise(0)).over(w)

    zc = F.col("zscore")
    w_ = (z
          .withColumn("hi2", cnt(zc > 2, w3))
          .withColumn("lo2", cnt(zc < -2, w3))
          .withColumn("hi1", cnt(zc > 1, w5))
          .withColumn("lo1", cnt(zc < -1, w5))
          .withColumn("hi0", cnt(zc > 0, w8))
          .withColumn("lo0", cnt(zc < 0, w8)))
    flags = w_.select(
        "priority", "day", "zscore",
        F.when(F.abs(zc) > 3, 1).otherwise(0).alias("r1"),
        F.when((F.col("rn") >= 3)
               & ((F.col("hi2") >= 2) | (F.col("lo2") >= 2)), 1)
        .otherwise(0).alias("r2"),
        F.when((F.col("rn") >= 5)
               & ((F.col("hi1") >= 4) | (F.col("lo1") >= 4)), 1)
        .otherwise(0).alias("r3"),
        F.when((F.col("rn") >= 8)
               & ((F.col("hi0") == 8) | (F.col("lo0") == 8)), 1)
        .otherwise(0).alias("r4"))
    return (flags
            .withColumn("rule_mask",
                        F.col("r1") + 2 * F.col("r2") + 4 * F.col("r3")
                        + 8 * F.col("r4"))
            .filter(F.col("rule_mask") > 0))


# ---------------------------------------------------------------------------
# X261 — exact Shapley-value channel attribution
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ["click", "error", "signup", "view"]


def _shapley_pairs() -> list[tuple[str, str, str, float]]:
    """All (channel, S, S∪{channel}) coalition pairs with the exact
    Shapley weight |S|!·(k−1−|S|)!/k! for k=4 — 32 literal rows; the
    identical floats are embedded into both the Spark literal dim and
    the oracle VALUES list, so the two engines run the same doubles."""
    import itertools as _it
    import math as _m

    k = len(_SHAP_CHANNELS)
    out = []
    for c in _SHAP_CHANNELS:
        others = [x for x in _SHAP_CHANNELS if x != c]
        for r in range(len(others) + 1):
            for s in _it.combinations(others, r):
                out.append((c, ",".join(sorted(s)),
                            ",".join(sorted(list(s) + [c])),
                            _m.factorial(len(s)) * _m.factorial(k - 1 - len(s))
                            / _m.factorial(k)))
    return out


_SHAP_VALUES_SQL = ",\n  ".join(
    "('%s', '%s', '%s', %r)" % p for p in _shapley_pairs())

_SHAP_ORACLE = f"""
WITH pu AS (
  SELECT user_id,
         coalesce(array_to_string(list_sort(list_distinct(
             list(event_type) FILTER (WHERE event_type <> 'purchase'))),
             ','), '') AS touched,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
coal AS (SELECT touched, count(*) AS n_users, sum(conv) AS n_conv
         FROM pu GROUP BY touched),
pairs(channel, s_key, sc_key, w) AS (VALUES
  {_SHAP_VALUES_SQL}),
phi AS (
  SELECT channel,
         floor(sum(w * (coalesce(vc.n_conv::DOUBLE / vc.n_users, 0)
                        - coalesce(vs.n_conv::DOUBLE / vs.n_users, 0)))
               * 1e6 + 0.5) / 1e6 AS shapley
  FROM pairs
  LEFT JOIN coal vs ON vs.touched = pairs.s_key
  LEFT JOIN coal vc ON vc.touched = pairs.sc_key
  GROUP BY channel),
expo AS (
  SELECT ch AS channel, count(DISTINCT user_id) AS n_exposed
  FROM pu, unnest(string_split(pu.touched, ',')) AS t(ch)
  WHERE ch <> '' GROUP BY ch)
SELECT phi.channel, coalesce(expo.n_exposed, 0) AS n_exposed, shapley
FROM phi LEFT JOIN expo ON expo.channel = phi.channel
"""


@query("shapley_attribution_events", _SHAP_ORACLE)
def shapley_attribution_events(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X261 — exact Shapley-value conversion attribution over the four
    non-purchase channels: coalition value v(S) = conversion rate of
    users whose touched-channel set is exactly S (0 for unobserved
    coalitions), and φ_c = Σ_{{S⊆C∖{{c}}}} |S|!(k−1−|S|)!/k! ·
    (v(S∪{{c}}) − v(S)) — the standard data-driven Shapley attribution
    (Zhao et al.), exact because k=4 keeps all 2⁴ coalitions
    enumerable as a 32-row literal dim.  One user-keyed aggregate +
    one touched-keyed aggregate + two broadcast joins of the literal
    pair dim — scales in the user count, never in 2^users.
    Complements X96 (last-touch) and X139 (position-based): the
    cooperative-game member of the attribution family."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.array_distinct(F.collect_list(
            F.when(F.col("event_type") != "purchase",
                   F.col("event_type")))))).alias("touched"),
        F.max((F.col("event_type") == "purchase").cast("int"))
        .alias("conv"))
    coal = pu.groupBy("touched").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_conv"))
    v = (F.col("n_conv").cast("double") / F.col("n_users"))
    pairs = spark.createDataFrame(
        _shapley_pairs(), "channel string, s_key string, sc_key string,"
        " w double")
    vs = coal.select(F.col("touched").alias("s_key"), v.alias("v_s"))
    vc = coal.select(F.col("touched").alias("sc_key"), v.alias("v_sc"))
    phi = (pairs
           .join(F.broadcast(vs), "s_key", "left")
           .join(F.broadcast(vc), "sc_key", "left")
           .groupBy("channel")
           .agg((F.floor(F.sum(F.col("w")
                               * (F.coalesce("v_sc", F.lit(0.0))
                                  - F.coalesce("v_s", F.lit(0.0))))
                         * 1e6 + F.lit(0.5)) / 1e6).alias("shapley")))
    expo = (pu.select("user_id",
                      F.explode(F.split("touched", ",")).alias("channel"))
            .filter(F.col("channel") != "")
            .groupBy("channel")
            .agg(F.count_distinct("user_id").alias("n_exposed")))
    return (phi.join(F.broadcast(expo), "channel", "left")
            .select("channel",
                    F.coalesce("n_exposed", F.lit(0)).alias("n_exposed"),
                    "shapley"))


# ---------------------------------------------------------------------------
# X262 — Bloom-filter false-positive-rate calibration
# ---------------------------------------------------------------------------

_BLOOM_M = 4096
_BLOOM_J = 3
_BLOOM_SOURCES = ("src0", "src1", "src2", "src3", "src4")

_BLOOM_ORACLE = f"""
WITH a AS (SELECT doc_id FROM documents
           WHERE source IN {_BLOOM_SOURCES!r}),
b AS (SELECT doc_id FROM documents
      WHERE source NOT IN {_BLOOM_SOURCES!r}),
seeds(s) AS (VALUES (0), (1), (2)),
apos AS (
  SELECT DISTINCT
         translate(substr(sha256(doc_id::VARCHAR || ':bloom' || s),
                          1, 6), 'abcdef', '012345')::BIGINT
           % {_BLOOM_M} AS pos
  FROM a, seeds),
bpos AS (
  SELECT DISTINCT doc_id,
         translate(substr(sha256(doc_id::VARCHAR || ':bloom' || s),
                          1, 6), 'abcdef', '012345')::BIGINT
           % {_BLOOM_M} AS pos
  FROM b, seeds),
perkey AS (
  SELECT bpos.doc_id, count(*) AS n_pos, count(apos.pos) AS n_hit
  FROM bpos LEFT JOIN apos USING (pos) GROUP BY bpos.doc_id),
agg AS (
  SELECT (SELECT count(*) FROM a) AS n_a,
         (SELECT count(*) FROM b) AS n_b,
         (SELECT count(*) FROM apos) AS n_set_bits,
         (SELECT count(*) FROM perkey WHERE n_hit = n_pos) AS fp_count),
r AS (
  SELECT n_a, n_b, n_set_bits, fp_count,
         floor(fp_count::DOUBLE / n_b * 1e6 + 0.5) / 1e6 AS fpr_observed,
         floor((n_set_bits::DOUBLE / {_BLOOM_M})
               * (n_set_bits::DOUBLE / {_BLOOM_M})
               * (n_set_bits::DOUBLE / {_BLOOM_M})
               * 1e6 + 0.5) / 1e6 AS fpr_theory
  FROM agg)
SELECT n_a, n_b, n_set_bits, fp_count, fpr_observed, fpr_theory,
       floor(abs(fpr_observed - fpr_theory) * 1e6 + 0.5) / 1e6 AS abs_err,
       CASE WHEN abs(fpr_observed - fpr_theory) <= 0.05
            THEN 'PASS' ELSE 'FAIL' END AS verdict
FROM r
"""


@query("bloom_fpr_calibration", _BLOOM_ORACLE)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X262 — Bloom-filter math calibration, hash-checkable (the X258
    idea applied to membership sketches): build an m=4096-bit, j=3
    Bloom filter over the doc_ids of five sources using the
    cross-engine sha2 position hash (the X9 ``hash_bucket`` trick with
    per-hash salts), probe it with every OTHER source's doc_ids (true
    membership is impossible by construction, so every hit is a false
    positive), and compare the observed FPR against the exact
    fill-based theory ``(n_set_bits/m)^j``.  The bit table is ≤m rows
    — broadcast to the probe join; everything else is key-local.  At
    sf0.1 the filter holds ~1.2k keys (fill ≈0.6, theory ≈0.21); the
    PASS bar |obs − theory| ≤ 0.05 is ≈10σ of the binomial at every
    test sf, so the verdict is stable, not flaky."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    in_a = F.col("source").isin(*_BLOOM_SOURCES)
    a = docs.filter(in_a).select("doc_id")
    b = docs.filter(~in_a).select("doc_id")
    positions = F.array(*[
        hash_bucket("doc_id", _BLOOM_M, f"bloom{s}")
        for s in range(_BLOOM_J)])
    apos = (a.select(F.explode(positions).alias("pos")).distinct())
    bpos = (b.select("doc_id", F.explode(positions).alias("pos"))
            .distinct())
    perkey = (bpos
              .join(F.broadcast(apos.withColumn("__set", F.lit(1))),
                    "pos", "left")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_pos"),
                   F.count("__set").alias("n_hit")))
    n_a = a.agg(F.count(F.lit(1)).alias("n_a"))
    n_b = b.agg(F.count(F.lit(1)).alias("n_b"))
    n_bits = apos.agg(F.count(F.lit(1)).alias("n_set_bits"))
    fp = (perkey.filter(F.col("n_hit") == F.col("n_pos"))
          .agg(F.count(F.lit(1)).alias("fp_count")))
    fill = F.col("n_set_bits").cast("double") / _BLOOM_M

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return (n_a.crossJoin(F.broadcast(n_b))
            .crossJoin(F.broadcast(n_bits))
            .crossJoin(F.broadcast(fp))
            .withColumn("fpr_observed",
                        r6(F.col("fp_count").cast("double") / F.col("n_b")))
            .withColumn("fpr_theory", r6(fill * fill * fill))
            .withColumn("abs_err",
                        r6(F.abs(F.col("fpr_observed")
                                 - F.col("fpr_theory"))))
            .withColumn("verdict",
                        F.when(F.abs(F.col("fpr_observed")
                                     - F.col("fpr_theory")) <= 0.05,
                               F.lit("PASS")).otherwise(F.lit("FAIL"))))


# ---------------------------------------------------------------------------
# X263 — jackknife variance of a ratio metric
# ---------------------------------------------------------------------------

_JACK_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS x,
         count(*)::BIGINT AS y
  FROM orders GROUP BY o_custkey),
tot AS (SELECT sum(x) AS sx, sum(y) AS sy,
               count(*)::BIGINT AS n FROM per),
loo AS (SELECT n, sx, sy,
               (sx - x)::DOUBLE / (sy - y) AS r_i FROM per, tot),
s AS (SELECT max(n) AS n_units,
             max(sx)::DOUBLE / max(sy) AS r_full,
             var_pop(r_i) AS vp FROM loo),
r AS (SELECT n_units,
             floor(r_full * 1e6 + 0.5) / 1e6 AS r_full,
             floor(sqrt((n_units - 1) * vp) * 1e6 + 0.5) / 1e6
               AS se_jack
      FROM s)
SELECT n_units, r_full, se_jack,
       floor((r_full - 1.96 * se_jack) * 1e6 + 0.5) / 1e6 AS ci_lo,
       floor((r_full + 1.96 * se_jack) * 1e6 + 0.5) / 1e6 AS ci_hi
FROM r
"""


@query("jackknife_ratio_orders", _JACK_ORACLE)
def jackknife_ratio_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X263 — leave-one-out jackknife standard error of a RATIO metric
    (revenue cents per order, unit = customer): R_i = (ΣX−x_i)/(ΣY−y_i)
    per unit, se² = (n−1)·var_pop(R_i) — the standard-correct way to
    put a CI on ratio metrics where per-row variance formulas are
    biased (delta-method's empirical twin).  One per-unit aggregate +
    a broadcast 1-row totals anchor + one variance aggregate; the
    integer-cents sums make every LOO division exact, so only the
    final variance carries float summation (stable central-moments on
    both engines, 1e-6-rounded).  Completes the experimentation family
    (X141 CUPED, X259 DiD) with the uncertainty member."""
    o = load_table(spark, sf_dir, "orders")
    per = (o.groupBy("o_custkey")
           .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                      .cast("bigint")).alias("x"),
                F.count(F.lit(1)).alias("y")))
    tot = per.agg(F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.count(F.lit(1)).alias("n"))
    loo = (per.crossJoin(F.broadcast(tot))
           .select("n", "sx", "sy",
                   ((F.col("sx") - F.col("x")).cast("double")
                    / (F.col("sy") - F.col("y"))).alias("r_i")))
    s = loo.agg(F.max("n").alias("n_units"),
                (F.max("sx").cast("double") / F.max("sy")).alias("r_full"),
                F.var_pop("r_i").alias("vp"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    r = s.select("n_units", r6(F.col("r_full")).alias("r_full"),
                 r6(F.sqrt((F.col("n_units") - 1) * F.col("vp")))
                 .alias("se_jack"))
    return r.select(
        "n_units", "r_full", "se_jack",
        r6(F.col("r_full") - 1.96 * F.col("se_jack")).alias("ci_lo"),
        r6(F.col("r_full") + 1.96 * F.col("se_jack")).alias("ci_hi"))


# ---------------------------------------------------------------------------
# X264 — Mann-Kendall monotonic-trend test
# ---------------------------------------------------------------------------

_MK_ORACLE = """
WITH m AS (
  SELECT o_orderpriority AS priority,
         date_trunc('month', o_orderdate) AS month,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
p AS (
  SELECT a.priority, sign(b.cents - a.cents)::BIGINT AS sg
  FROM m a JOIN m b ON b.priority = a.priority AND b.month > a.month),
sstat AS (SELECT priority, sum(sg)::BIGINT AS s_stat FROM p GROUP BY priority),
nn AS (SELECT priority, count(*)::BIGINT AS n FROM m GROUP BY priority),
ties AS (
  SELECT priority, sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT priority, cents, count(*)::BIGINT AS t
        FROM m GROUP BY priority, cents HAVING count(*) > 1)
  GROUP BY priority),
v AS (
  SELECT nn.priority, n, s_stat,
         (n * (n - 1) * (2 * n + 5) - coalesce(tie_term, 0)) / 18.0
           AS var_s
  FROM nn JOIN sstat USING (priority)
  LEFT JOIN ties USING (priority)),
z AS (
  SELECT priority, n AS n_months, s_stat,
         floor(var_s * 1e6 + 0.5) / 1e6 AS var_s,
         floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                    ELSE 0 END * 1e6 + 0.5) / 1e6 AS z
  FROM v)
SELECT priority, n_months, s_stat, var_s, z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM z
"""


@query("mann_kendall_monthly_revenue", _MK_ORACLE)
def mann_kendall_monthly_revenue(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X264 — Mann-Kendall non-parametric monotonic-trend test per
    priority over MONTHLY revenue: S = Σ_{i<j} sign(x_j − x_i) with
    the tie-corrected variance and continuity-corrected z.  The pair
    join is priority-keyed and the series is first collapsed to
    calendar months, so pairs are bounded by (#months)² per series —
    the X119 blocking discipline applied to a trend test (a daily
    series would pair-explode; the monthly collapse is the documented
    scale bound).  Integer-cents sums make every sign() exact and
    var_s a deterministic integer/18 — the z is bit-reproducible, not
    rounding-fragile.  Complements X137 (Theil-Sen slope): MK gives
    the significance, Theil-Sen the magnitude."""
    o = load_table(spark, sf_dir, "orders")
    m = (o.groupBy(F.col("o_orderpriority").alias("priority"),
                   F.date_trunc("month", "o_orderdate").alias("month"))
         .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("bigint")).alias("cents")))
    a = m.select(F.col("priority"), F.col("month").alias("ma"),
                 F.col("cents").alias("ca"))
    b = m.select(F.col("priority"), F.col("month").alias("mb"),
                 F.col("cents").alias("cb"))
    pairs = a.join(b, ["priority"]).filter(F.col("mb") > F.col("ma"))
    sstat = (pairs.groupBy("priority")
             .agg(F.sum(F.signum(F.col("cb") - F.col("ca")).cast("bigint"))
                  .alias("s_stat")))
    nn = m.groupBy("priority").agg(F.count(F.lit(1)).alias("n"))
    ties = (m.groupBy("priority", "cents")
            .agg(F.count(F.lit(1)).alias("t"))
            .filter(F.col("t") > 1)
            .groupBy("priority")
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).alias("tie_term")))
    v = (nn.join(sstat, "priority")
         .join(ties, "priority", "left")
         .select("priority", "n", "s_stat",
                 ((F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                   - F.coalesce("tie_term", F.lit(0))) / 18.0)
                 .alias("var_s")))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    zc = (F.when(F.col("s_stat") > 0,
                 (F.col("s_stat") - 1) / F.sqrt("var_s"))
          .when(F.col("s_stat") < 0,
                (F.col("s_stat") + 1) / F.sqrt("var_s"))
          .otherwise(F.lit(0.0)))
    z = v.select("priority", F.col("n").alias("n_months"), "s_stat",
                 r6(F.col("var_s")).alias("var_s"), r6(zc).alias("z"))
    return z.withColumn(
        "trend",
        F.when(F.col("z") > 1.96, "increasing")
        .when(F.col("z") < -1.96, "decreasing")
        .otherwise("none"))


# ---------------------------------------------------------------------------
# X265 — Cochran-Armitage trend test
# ---------------------------------------------------------------------------

_CA_ORACLE = """
WITH g AS (
  SELECT substr(o_orderpriority, 1, 1)::BIGINT AS w,
         count(*)::BIGINT AS n,
         count(*) FILTER (o_orderstatus = 'F')::BIGINT AS x
  FROM orders GROUP BY 1),
s AS (
  SELECT sum(n)::BIGINT AS nn, sum(x)::BIGINT AS xx,
         sum(w * x) AS swx, sum(w * n) AS swn,
         sum(w * w * n) AS swwn
  FROM g),
t AS (
  SELECT nn AS n_total, xx AS x_total,
         swx - swn * (xx::DOUBLE / nn) AS t_stat,
         (xx::DOUBLE / nn) * (1 - xx::DOUBLE / nn)
           * (swwn - swn::DOUBLE * swn / nn) AS denom
  FROM s)
SELECT n_total, x_total,
       floor(t_stat * 1e6 + 0.5) / 1e6 AS t_stat,
       floor(t_stat * t_stat / denom * 1e6 + 0.5) / 1e6 AS z2,
       CASE WHEN t_stat * t_stat / denom > 3.841459 THEN 'TREND'
            ELSE 'NO_TREND' END AS verdict
FROM t
"""


@query("ca_trend_priority_status", _CA_ORACLE)
def ca_trend_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X265 — Cochran-Armitage trend test: is the fulfilled-rate
    (o_orderstatus='F') monotonically associated with the ORDERED
    priority score (the leading digit 1..5)?  The χ² independence test
    (X73) ignores category order; CA weights each category by its
    score and tests the linear component — one dose-response statistic
    from five integer cell sums.  Everything up to the final division
    is integer-exact (counts and score products), so the statistic is
    deterministic across engines; one group-aggregate + one 5-row
    reduction, no joins at all."""
    o = load_table(spark, sf_dir, "orders")
    g = (o.groupBy(F.substring("o_orderpriority", 1, 1).cast("bigint")
                   .alias("w"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.count(F.when(F.col("o_orderstatus") == "F", 1))
              .alias("x")))
    s = g.agg(F.sum("n").alias("nn"), F.sum("x").alias("xx"),
              F.sum(F.col("w") * F.col("x")).alias("swx"),
              F.sum(F.col("w") * F.col("n")).alias("swn"),
              F.sum(F.col("w") * F.col("w") * F.col("n")).alias("swwn"))
    pbar = F.col("xx").cast("double") / F.col("nn")
    t = s.select(
        F.col("nn").alias("n_total"), F.col("xx").alias("x_total"),
        (F.col("swx") - F.col("swn") * pbar).alias("t_stat"),
        (pbar * (1 - pbar)
         * (F.col("swwn") - F.col("swn").cast("double") * F.col("swn")
            / F.col("nn"))).alias("denom"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    z2 = F.col("t_stat") * F.col("t_stat") / F.col("denom")
    return t.select(
        "n_total", "x_total", r6(F.col("t_stat")).alias("t_stat"),
        r6(z2).alias("z2"),
        F.when(z2 > 3.841459, "TREND").otherwise("NO_TREND")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X266 — empirical-Bayes shrinkage of group rates
# ---------------------------------------------------------------------------

_EB_ORACLE = """
WITH g AS (
  SELECT p_brand AS brand, count(*)::BIGINT AS n,
         count(*) FILTER (l_returnflag = 'R')::BIGINT AS x
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand),
mom AS (
  SELECT avg(x::DOUBLE / n) AS mu, var_pop(x::DOUBLE / n) AS s2
  FROM g),
ab AS (
  SELECT floor((mu * (1 - mu) / s2 - 1) * mu * 1e8 + 0.5) / 1e8
           AS alpha,
         floor((mu * (1 - mu) / s2 - 1) * (1 - mu) * 1e8 + 0.5) / 1e8
           AS beta
  FROM mom)
SELECT brand, n, x,
       floor(x::DOUBLE / n * 1e6 + 0.5) / 1e6 AS raw_rate,
       floor((x + alpha) / (n + alpha + beta) * 1e6 + 0.5) / 1e6
         AS shrunk_rate,
       alpha, beta
FROM g, ab
"""


@query("eb_shrunk_return_rates", _EB_ORACLE)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X266 — empirical-Bayes (beta-binomial) shrinkage of per-brand
    return rates: method-of-moments prior (α, β) from the across-brand
    mean/variance of raw rates, posterior mean (x+α)/(n+α+β) per
    brand — the standard fix for small-sample rate rankings (raw rates
    over-disperse; X240's Wilson bound ranks one group, EB borrows
    strength ACROSS groups).  Broadcast part-dim join, one brand
    aggregate, a broadcast 1-row (α, β) anchor; (α, β) floor-rounded
    1e-8 before the posterior division on both engines (the X257
    discipline), so the shrunk rates hash-match."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    g = (li.join(F.broadcast(part),
                 part.p_partkey == li.l_partkey)
         .groupBy(F.col("p_brand").alias("brand"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.count(F.when(F.col("l_returnflag") == "R", 1))
              .alias("x")))
    p_i = F.col("x").cast("double") / F.col("n")
    mom = g.agg(F.avg(p_i).alias("mu"), F.var_pop(p_i).alias("s2"))

    def r8(c):
        return F.floor(c * 1e8 + F.lit(0.5)) / 1e8

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    k = F.col("mu") * (1 - F.col("mu")) / F.col("s2") - 1
    ab = mom.select(r8(k * F.col("mu")).alias("alpha"),
                    r8(k * (1 - F.col("mu"))).alias("beta"))
    return (g.crossJoin(F.broadcast(ab))
            .select("brand", "n", "x",
                    r6(p_i).alias("raw_rate"),
                    r6((F.col("x") + F.col("alpha"))
                       / (F.col("n") + F.col("alpha") + F.col("beta")))
                    .alias("shrunk_rate"),
                    "alpha", "beta"))


# ---------------------------------------------------------------------------
# X267 — Burrows' Delta stylometric distance
# ---------------------------------------------------------------------------

_DELTA_K = 20

_DELTA_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word
  FROM documents),
tot AS (SELECT source, count(*)::BIGINT AS n_tok FROM tok GROUP BY source),
wc AS (SELECT source, word, count(*)::BIGINT AS c
       FROM tok GROUP BY source, word),
topw AS (
  SELECT word FROM (
    SELECT word, sum(c) AS g FROM wc GROUP BY word
    ORDER BY g DESC, word LIMIT {_DELTA_K})),
grid AS (
  SELECT t.source, w.word,
         coalesce(wc.c, 0)::DOUBLE / t.n_tok AS f
  FROM tot t CROSS JOIN topw w
  LEFT JOIN wc ON wc.source = t.source AND wc.word = w.word),
z AS (
  SELECT source, word,
         floor((f - avg(f) OVER (PARTITION BY word))
               / stddev_pop(f) OVER (PARTITION BY word)
               * 1e8 + 0.5) / 1e8 AS zf
  FROM grid),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         avg(abs(a.zf - b.zf)) AS d
  FROM z a JOIN z b ON b.word = a.word AND b.source > a.source
  GROUP BY a.source, b.source)
SELECT source_a, source_b,
       floor(d * 1e6 + 0.5) / 1e6 AS delta
FROM pairs
"""


@query("stylometry_delta_sources", _DELTA_ORACLE)
def stylometry_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X267 — Burrows' Delta stylometric distance between every source
    pair: z-score each source's relative frequency of the top-20
    corpus words (across-source mean/sigma per word over the DENSE
    word-by-source grid, zeros included), Delta = mean |z_a - z_b| —
    the standard authorship-attribution distance, here fingerprinting
    pipeline sources.  The grid is |top words| x |sources| (a
    broadcast 20-row dim crossJoin), the pair join is word-keyed and
    bounded by k * |sources|^2 — never document-sized.  z floor-rounded
    1e-8 before pairing (the X257 discipline) so both engines difference
    identical values."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source",
                      F.explode(F.split("text", " ")).alias("word"))
    tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    wc = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    topw = (wc.groupBy("word").agg(F.sum("c").alias("g"))
            .orderBy(F.col("g").desc(), "word").limit(_DELTA_K)
            .select("word"))
    grid = (tot.crossJoin(F.broadcast(topw))
            .join(wc, ["source", "word"], "left")
            .select("source", "word",
                    (F.coalesce("c", F.lit(0)).cast("double")
                     / F.col("n_tok")).alias("f")))
    part = W.partitionBy("word")
    zf = (F.floor((F.col("f") - F.avg("f").over(part))
                  / F.stddev_pop("f").over(part)
                  * 1e8 + F.lit(0.5)) / 1e8)
    z = grid.select("source", "word", zf.alias("zf"))
    a = z.select(F.col("source").alias("source_a"), "word",
                 F.col("zf").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "word",
                 F.col("zf").alias("zb"))
    return (a.join(b, "word")
            .filter(F.col("source_b") > F.col("source_a"))
            .groupBy("source_a", "source_b")
            .agg((F.floor(F.avg(F.abs(F.col("za") - F.col("zb")))
                          * 1e6 + F.lit(0.5)) / 1e6).alias("delta")))


# ---------------------------------------------------------------------------
# X268 — sequential monitoring (peeking) audit
# ---------------------------------------------------------------------------

_SEQ_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CASE WHEN translate(substr(sha256(user_id::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS treat
  FROM events),
daily AS (
  SELECT event_type, day,
         sum(treat)::BIGINT AS n_t,
         sum(1 - treat)::BIGINT AS n_c
  FROM e GROUP BY event_type, day),
cum AS (
  SELECT event_type, day,
         (sum(n_t) OVER w)::BIGINT AS cum_t,
         (sum(n_c) OVER w)::BIGINT AS cum_c
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
z AS (
  SELECT event_type, day, cum_t, cum_c,
         floor((cum_t - cum_c) / sqrt(cum_t + cum_c) * 1e6 + 0.5) / 1e6
           AS z
  FROM cum)
SELECT event_type, day, cum_t, cum_c, z,
       CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END AS crossed
FROM z
"""


@query("seq_monitor_events", _SEQ_ORACLE)
def seq_monitor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X268 — sequential-monitoring (peeking) audit per event type:
    cumulative treat-vs-control counts of the X259 sha2 split by day,
    the running balance z_t = (T-C)/sqrt(T+C), and a conservative
    |z| > 3.0 crossing flag — the run-time guardrail that catches a
    broken randomizer WITHOUT inflating false positives the way
    repeated nominal-1.96 peeks would (the audit's reason to exist).
    Integer counts make z_t deterministic; the cumulative window is
    partitioned by event type over period-collapsed days (the X128
    CUSUM shape)."""
    from pyspark.sql import Window as W

    from sync_cosmos_db_spark.operators.curation import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    treat = (hash_bucket("user_id", 2, "did") == 1).cast("int")
    daily = (ev.select("event_type", F.to_date("ts").alias("day"),
                       treat.alias("treat"))
             .groupBy("event_type", "day")
             .agg(F.sum("treat").cast("bigint").alias("n_t"),
                  F.sum(1 - F.col("treat")).cast("bigint").alias("n_c")))
    w = (W.partitionBy("event_type").orderBy("day")
         .rowsBetween(W.unboundedPreceding, 0))
    cum = daily.select(
        "event_type", "day",
        F.sum("n_t").over(w).alias("cum_t"),
        F.sum("n_c").over(w).alias("cum_c"))
    z = (F.floor((F.col("cum_t") - F.col("cum_c"))
                 / F.sqrt(F.col("cum_t") + F.col("cum_c"))
                 * 1e6 + F.lit(0.5)) / 1e6)
    out = cum.withColumn("z", z)
    return out.withColumn(
        "crossed", F.when(F.abs(F.col("z")) > 3.0, 1).otherwise(0))


# ---------------------------------------------------------------------------
# X269 — covariate balance audit (standardized mean differences)
# ---------------------------------------------------------------------------

_BAL_ORACLE = """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN translate(substr(sha256(user_id::VARCHAR
                                               || ':did'), 1, 6),
                                 'abcdef', '012345')::BIGINT % 2 = 1
             THEN 1 ELSE 0 END) AS treat,
         count(*)::DOUBLE AS n_events,
         sum(value)::DOUBLE AS total_value,
         count(DISTINCT event_type)::DOUBLE AS n_types,
         avg(value) AS mean_value
  FROM events GROUP BY user_id),
long AS (
  SELECT treat, 'n_events' AS covariate, n_events AS v FROM pu
  UNION ALL
  SELECT treat, 'total_value', total_value FROM pu
  UNION ALL
  SELECT treat, 'n_types', n_types FROM pu
  UNION ALL
  SELECT treat, 'mean_value', mean_value FROM pu),
g AS (
  SELECT covariate,
         avg(v) FILTER (treat = 1) AS mean_t,
         avg(v) FILTER (treat = 0) AS mean_c,
         var_pop(v) FILTER (treat = 1) AS var_t,
         var_pop(v) FILTER (treat = 0) AS var_c
  FROM long GROUP BY covariate),
r AS (
  SELECT covariate,
         floor(mean_t * 1e6 + 0.5) / 1e6 AS mean_t,
         floor(mean_c * 1e6 + 0.5) / 1e6 AS mean_c,
         CASE WHEN var_t + var_c > 0
              THEN floor((mean_t - mean_c) / sqrt((var_t + var_c) / 2)
                         * 1e6 + 0.5) / 1e6
              ELSE NULL END AS smd
  FROM g)
SELECT covariate, mean_t, mean_c, smd,
       CASE WHEN smd IS NULL THEN 'DEGENERATE'
            WHEN abs(smd) < 0.1 THEN 'BALANCED'
            ELSE 'IMBALANCED' END AS verdict
FROM r
"""


@query("covariate_balance_users", _BAL_ORACLE)
def covariate_balance_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269 — covariate balance audit for the X259 experiment split:
    standardized mean difference (mean_t - mean_c)/sqrt((var_t+var_c)/2)
    for four pre-treatment user covariates, |SMD| < 0.1 = balanced (the
    epidemiology convention).  The experiment-health check that must
    PASS before X259's DiD or X141's CUPED readout is trusted.  One
    user-keyed aggregate, an in-row ``stack`` unpivot (the X161 shape),
    one 4-group aggregate; a zero-variance covariate yields a NULL SMD
    and a DEGENERATE verdict on both engines instead of a divide-by-zero."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    pu = (ev.groupBy("user_id")
          .agg(F.max((hash_bucket("user_id", 2, "did") == 1).cast("int"))
               .alias("treat"),
               F.count(F.lit(1)).cast("double").alias("n_events"),
               F.sum("value").cast("double").alias("total_value"),
               F.count_distinct("event_type").cast("double")
               .alias("n_types"),
               F.avg("value").alias("mean_value")))
    long = pu.select(
        "treat",
        F.expr("stack(4, 'n_events', n_events, 'total_value', total_value,"
               " 'n_types', n_types, 'mean_value', mean_value)")
        .alias("covariate", "v"))
    g = long.groupBy("covariate").agg(
        F.avg(F.when(F.col("treat") == 1, F.col("v"))).alias("mean_t"),
        F.avg(F.when(F.col("treat") == 0, F.col("v"))).alias("mean_c"),
        F.var_pop(F.when(F.col("treat") == 1, F.col("v"))).alias("var_t"),
        F.var_pop(F.when(F.col("treat") == 0, F.col("v"))).alias("var_c"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    pooled = F.col("var_t") + F.col("var_c")
    smd = F.when(pooled > 0,
                 r6((F.col("mean_t") - F.col("mean_c"))
                    / F.sqrt(pooled / 2)))
    r = g.select("covariate", r6(F.col("mean_t")).alias("mean_t"),
                 r6(F.col("mean_c")).alias("mean_c"), smd.alias("smd"))
    return r.withColumn(
        "verdict",
        F.when(F.col("smd").isNull(), "DEGENERATE")
        .when(F.abs(F.col("smd")) < 0.1, "BALANCED")
        .otherwise("IMBALANCED"))


# ---------------------------------------------------------------------------
# X270 — vocabulary richness (Good-Turing / Chao1)
# ---------------------------------------------------------------------------

_RICH_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word
  FROM documents),
wc AS (SELECT source, word, count(*)::BIGINT AS c
       FROM tok GROUP BY source, word),
s AS (
  SELECT source,
         sum(c)::BIGINT AS n_tokens,
         count(*)::BIGINT AS vocab,
         count(*) FILTER (c = 1)::BIGINT AS n1,
         count(*) FILTER (c = 2)::BIGINT AS n2
  FROM wc GROUP BY source)
SELECT source, n_tokens, vocab, n1, n2,
       floor(n1::DOUBLE / n_tokens * 1e6 + 0.5) / 1e6
         AS p_unseen_gt,
       floor((vocab + n1::DOUBLE * (n1 - 1) / (2 * (n2 + 1)))
             * 1e6 + 0.5) / 1e6 AS chao1
FROM s
"""


@query("vocab_richness_sources", _RICH_ORACLE)
def vocab_richness_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270 — vocabulary richness per source: Good-Turing unseen-mass
    estimate n1/N (the probability the next token is a NEW word) and
    the bias-corrected Chao1 richness V + n1(n1-1)/(2(n2+1)) (estimated
    TRUE vocabulary including unseen words) from the singleton/doubleton
    counts - the capture-recapture answer to "how much vocabulary has
    this source not shown us yet", which raw type counts (X64 vocab
    growth) cannot give.  Two keyed aggregates; everything after the
    (source, word) count is |vocab|-sized."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source",
                      F.explode(F.split("text", " ")).alias("word"))
    wc = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    s = wc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n1"),
        F.count(F.when(F.col("c") == 2, 1)).alias("n2"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return s.select(
        "source", "n_tokens", "vocab", "n1", "n2",
        r6(F.col("n1").cast("double") / F.col("n_tokens"))
        .alias("p_unseen_gt"),
        r6(F.col("vocab") + F.col("n1").cast("double") * (F.col("n1") - 1)
           / (2 * (F.col("n2") + 1))).alias("chao1"))


# ---------------------------------------------------------------------------
# X271 — Chapman capture-recapture population estimate
# ---------------------------------------------------------------------------

_CR_ORACLE = """
WITH s1 AS (SELECT DISTINCT user_id FROM events
            WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
s2 AS (SELECT DISTINCT user_id FROM events
       WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
         AND ts < TIMESTAMP '2024-01-21 00:00:00'),
m AS (SELECT count(*)::BIGINT AS m FROM s1 JOIN s2 USING (user_id)),
c AS (SELECT (SELECT count(*) FROM s1)::BIGINT AS n1,
             (SELECT count(*) FROM s2)::BIGINT AS n2,
             (SELECT m FROM m) AS m,
             (SELECT count(DISTINCT user_id) FROM events)::BIGINT
               AS n_true),
e AS (SELECT n1, n2, m, n_true,
             floor(((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1)
                   * 1e6 + 0.5) / 1e6 AS n_hat,
             floor(sqrt((n1 + 1)::DOUBLE * (n2 + 1) * (n1 - m)
                        * (n2 - m)
                        / ((m + 1)::DOUBLE * (m + 1) * (m + 2)))
                   * 1e6 + 0.5) / 1e6 AS se
      FROM c)
SELECT n1, n2, m, n_true, n_hat, se,
       floor((n_hat - 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_lo,
       floor((n_hat + 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_hi,
       CASE WHEN n_true >= n_hat - 1.96 * se
             AND n_true <= n_hat + 1.96 * se
            THEN 1 ELSE 0 END AS ci_covers_truth
FROM e
"""


@query("capture_recapture_users", _CR_ORACLE)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X271 — Chapman capture-recapture estimate of the TOTAL user
    population from two 10-day observation windows: N-hat =
    (n1+1)(n2+1)/(m+1) - 1 with its standard error — the ecology
    estimator applied to "how many users exist that we have not
    logged", which no distinct count over observed data can answer.
    The synthetic table observes everyone, so n_true is computable and
    the ci_covers_truth column turns the query into a self-checking
    calibration audit (the X262 idea for population estimates).  Two
    distinct-sets + one key join + 1-row anchors; all-integer inputs
    make every output deterministic."""
    ev = load_table(spark, sf_dir, "events")
    t1 = F.lit("2024-01-11").cast("timestamp")
    t2 = F.lit("2024-01-21").cast("timestamp")
    s1 = ev.filter(F.col("ts") < t1).select("user_id").distinct()
    s2 = (ev.filter((F.col("ts") >= t1) & (F.col("ts") < t2))
          .select("user_id").distinct())
    m = s1.join(s2, "user_id").agg(F.count(F.lit(1)).alias("m"))
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    nt = ev.agg(F.count_distinct("user_id").alias("n_true"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    c = (n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
         .crossJoin(F.broadcast(nt)))
    e = c.select(
        "n1", "n2", "m", "n_true",
        r6((F.col("n1") + 1).cast("double") * (F.col("n2") + 1)
           / (F.col("m") + 1) - 1).alias("n_hat"),
        r6(F.sqrt((F.col("n1") + 1).cast("double") * (F.col("n2") + 1)
                  * (F.col("n1") - F.col("m")) * (F.col("n2") - F.col("m"))
                  / ((F.col("m") + 1).cast("double") * (F.col("m") + 1)
                     * (F.col("m") + 2)))).alias("se"))
    return e.select(
        "n1", "n2", "m", "n_true", "n_hat", "se",
        r6(F.col("n_hat") - 1.96 * F.col("se")).alias("ci_lo"),
        r6(F.col("n_hat") + 1.96 * F.col("se")).alias("ci_hi"),
        F.when((F.col("n_true") >= F.col("n_hat") - 1.96 * F.col("se"))
               & (F.col("n_true") <= F.col("n_hat") + 1.96 * F.col("se")),
               1).otherwise(0).alias("ci_covers_truth"))


# ---------------------------------------------------------------------------
# X272 — grouped log-log price-elasticity OLS
# ---------------------------------------------------------------------------

_ELAST_ORACLE = """
WITH m AS (
  SELECT p_brand AS brand,
         date_trunc('month', l_shipdate) AS month,
         sum(floor(l_extendedprice * 100 + 0.5)::BIGINT) AS cents,
         sum(l_quantity)::BIGINT AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2),
xy AS (
  SELECT brand,
         ln(cents::DOUBLE / qty) AS x,
         ln(qty::DOUBLE) AS y
  FROM m),
fit AS (
  SELECT brand, count(*)::BIGINT AS n_months,
         covar_pop(x, y) / var_pop(x) AS slope,
         avg(y) - covar_pop(x, y) / var_pop(x) * avg(x) AS icept
  FROM xy GROUP BY brand)
SELECT brand, n_months,
       floor(slope * 1e6 + 0.5) / 1e6 AS elasticity,
       floor(icept * 1e6 + 0.5) / 1e6 AS intercept
FROM fit
"""


@query("elasticity_brand_ols", _ELAST_ORACLE)
def elasticity_brand_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X272 — log-log price elasticity per part brand: monthly
    (avg unit price, total quantity) per brand, OLS slope of
    ln(qty) on ln(price) via the closed form covar_pop/var_pop —
    the applied-econometrics member of the fit family (X73 fits one
    line on one series; this fits one per GROUP in a single grouped
    aggregate, no per-group loops).  Integer cents/qty sums make each
    ln() argument exact; the broadcast part dim keys the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    m = (li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
         .groupBy(F.col("p_brand").alias("brand"),
                  F.date_trunc("month", "l_shipdate").alias("month"))
         .agg(F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                    .cast("bigint")).alias("cents"),
              F.sum("l_quantity").cast("bigint").alias("qty")))
    xy = m.select(
        "brand",
        F.log(F.col("cents").cast("double") / F.col("qty")).alias("x"),
        F.log(F.col("qty").cast("double")).alias("y"))
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    fit = (xy.groupBy("brand")
           .agg(F.count(F.lit(1)).alias("n_months"),
                slope.alias("slope"),
                (F.avg("y") - slope * F.avg("x")).alias("icept")))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return fit.select("brand", "n_months",
                      r6(F.col("slope")).alias("elasticity"),
                      r6(F.col("icept")).alias("intercept"))


# ---------------------------------------------------------------------------
# X273 — fixed-effect meta-analysis with heterogeneity
# ---------------------------------------------------------------------------

_META_ORACLE = """
WITH o AS (
  SELECT c_nationkey AS nation,
         CASE WHEN translate(substr(sha256(o_custkey::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS arm,
         o_totalprice AS v
  FROM orders JOIN customer ON c_custkey = o_custkey),
g AS (
  SELECT nation,
         count(*) FILTER (arm = 1)::BIGINT AS n_t,
         count(*) FILTER (arm = 0)::BIGINT AS n_c,
         avg(v) FILTER (arm = 1) AS m_t,
         avg(v) FILTER (arm = 0) AS m_c,
         var_pop(v) FILTER (arm = 1) AS v_t,
         var_pop(v) FILTER (arm = 0) AS v_c
  FROM o GROUP BY nation
  HAVING count(*) FILTER (arm = 1) >= 2
     AND count(*) FILTER (arm = 0) >= 2),
d AS (
  SELECT nation,
         floor((m_t - m_c) * 100 + 0.5) / 100 AS d,
         floor((v_t / n_t + v_c / n_c) * 100 + 0.5) / 100 AS var_d
  FROM g),
pool AS (
  SELECT count(*)::BIGINT AS k,
         sum(d / var_d) / sum(1 / var_d) AS pooled,
         sqrt(1 / sum(1 / var_d)) AS se
  FROM d),
q AS (
  SELECT k, pooled, se,
         (SELECT sum((d.d - pool.pooled) * (d.d - pool.pooled) / d.var_d)
          FROM d) AS q_stat
  FROM pool)
SELECT k,
       floor(pooled * 1e6 + 0.5) / 1e6 AS pooled_effect,
       floor(se * 1e6 + 0.5) / 1e6 AS se_pooled,
       floor(q_stat * 1e6 + 0.5) / 1e6 AS q_stat,
       floor(greatest(0, (q_stat - (k - 1)) / q_stat) * 1e6 + 0.5) / 1e6
         AS i2,
       CASE WHEN greatest(0, (q_stat - (k - 1)) / q_stat) > 0.5
            THEN 'HETEROGENEOUS' ELSE 'HOMOGENEOUS' END AS verdict
FROM q
"""


@query("meta_effect_nations", _META_ORACLE)
def meta_effect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X273 — fixed-effect (inverse-variance) meta-analysis of the
    per-nation treatment effect of the X259 split: pooled effect
    sum(d/v)/sum(1/v), pooled se, Cochran's Q and I² heterogeneity —
    the many-small-experiments combiner (each nation = one "study").
    Per-nation d and var(d) are floor-rounded at 0.01 BEFORE pooling
    (the X259 rounded-cell-means discipline at the precision float
    variance sums can actually guarantee cross-engine); nations with
    an arm under 2 observations are excluded on both engines.  One
    keyed aggregate + a 1-row pooled anchor."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = (o.join(F.broadcast(cust),
                     cust.c_custkey == o.o_custkey)
              .select(F.col("c_nationkey").alias("nation"),
                      (hash_bucket("o_custkey", 2, "did") == 1)
                      .cast("int").alias("arm"),
                      F.col("o_totalprice").alias("v")))
    t = F.col("arm") == 1
    g = (joined.groupBy("nation")
         .agg(F.count(F.when(t, 1)).alias("n_t"),
              F.count(F.when(~t, 1)).alias("n_c"),
              F.avg(F.when(t, F.col("v"))).alias("m_t"),
              F.avg(F.when(~t, F.col("v"))).alias("m_c"),
              F.var_pop(F.when(t, F.col("v"))).alias("v_t"),
              F.var_pop(F.when(~t, F.col("v"))).alias("v_c"))
         .filter((F.col("n_t") >= 2) & (F.col("n_c") >= 2)))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    def r2(c):
        return F.floor(c * 100 + F.lit(0.5)) / 100

    d = g.select("nation", r2(F.col("m_t") - F.col("m_c")).alias("d"),
                 r2(F.col("v_t") / F.col("n_t")
                    + F.col("v_c") / F.col("n_c")).alias("var_d"))
    pool = d.agg(
        F.count(F.lit(1)).alias("k"),
        (F.sum(F.col("d") / F.col("var_d"))
         / F.sum(1 / F.col("var_d"))).alias("pooled"),
        F.sqrt(1 / F.sum(1 / F.col("var_d"))).alias("se"))
    q = (d.crossJoin(F.broadcast(pool))
         .agg(F.max("k").alias("k"), F.max("pooled").alias("pooled"),
              F.max("se").alias("se"),
              F.sum((F.col("d") - F.col("pooled"))
                    * (F.col("d") - F.col("pooled")) / F.col("var_d"))
              .alias("q_stat")))
    i2 = F.greatest(F.lit(0.0),
                    (F.col("q_stat") - (F.col("k") - 1)) / F.col("q_stat"))
    return q.select(
        "k", r6(F.col("pooled")).alias("pooled_effect"),
        r6(F.col("se")).alias("se_pooled"),
        r6(F.col("q_stat")).alias("q_stat"),
        r6(i2).alias("i2"),
        F.when(i2 > 0.5, "HETEROGENEOUS").otherwise("HOMOGENEOUS")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X274 — negative-binomial method-of-moments fit
# ---------------------------------------------------------------------------

_NB_ORACLE = """
WITH per AS (
  SELECT user_id, count(*)::DOUBLE AS n FROM events GROUP BY user_id),
mv AS (
  SELECT count(*)::BIGINT AS n_users,
         floor(avg(n) * 1e8 + 0.5) / 1e8 AS m,
         floor(var_pop(n) * 1e8 + 0.5) / 1e8 AS v
  FROM per)
SELECT n_users,
       floor(m * 1e6 + 0.5) / 1e6 AS mean_events,
       floor(v * 1e6 + 0.5) / 1e6 AS var_events,
       floor(v / m * 1e6 + 0.5) / 1e6 AS dispersion_index,
       CASE WHEN v > m
            THEN floor(m * m / (v - m) * 1e6 + 0.5) / 1e6
            ELSE NULL END AS nb_size_r,
       CASE WHEN v > m
            THEN floor(pow(m * m / (v - m) / (m * m / (v - m) + m),
                           m * m / (v - m)) * 1e6 + 0.5) / 1e6
            ELSE NULL END AS p_zero_nb,
       CASE WHEN v > m THEN 'OVERDISPERSED'
            WHEN v < m THEN 'UNDERDISPERSED'
            ELSE 'POISSON' END AS verdict
FROM mv
"""


@query("nb_fit_user_events", _NB_ORACLE)
def nb_fit_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X274 — negative-binomial method-of-moments fit of per-user
    event counts: size r = m²/(v−m), P(0) = (r/(r+m))^r, dispersion
    index v/m with an OVER/UNDER/POISSON verdict — the parametric
    counterpart of X206's dispersion profile (that one measures, this
    one FITS and predicts the unseen-zero mass).  (m, v) floor-rounded
    1e-8 before the closed forms (the X257 pow discipline) so both
    engines exponentiate identical doubles; underdispersion yields
    NULL fit columns instead of a negative size."""
    ev = load_table(spark, sf_dir, "events")
    per = (ev.groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("double").alias("n")))

    def r8(c):
        return F.floor(c * 1e8 + F.lit(0.5)) / 1e8

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    mv = per.agg(F.count(F.lit(1)).alias("n_users"),
                 r8(F.avg("n")).alias("m"),
                 r8(F.var_pop("n")).alias("v"))
    m, v = F.col("m"), F.col("v")
    r = m * m / (v - m)
    over = v > m
    return mv.select(
        "n_users", r6(m).alias("mean_events"), r6(v).alias("var_events"),
        r6(v / m).alias("dispersion_index"),
        F.when(over, r6(r)).alias("nb_size_r"),
        F.when(over, r6(F.pow(r / (r + m), r))).alias("p_zero_nb"),
        F.when(over, "OVERDISPERSED")
        .when(v < m, "UNDERDISPERSED")
        .otherwise("POISSON").alias("verdict"))


# ---------------------------------------------------------------------------
# X275 — log-rank two-sample survival test
# ---------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN translate(substr(sha256(user_id::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS arm,
         date_diff('day', min(CAST(ts AS DATE)),
                   min(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END)) AS t_event,
         date_diff('day', min(CAST(ts AS DATE)),
                   max(CAST(ts AS DATE))) AS t_last
  FROM events GROUP BY user_id),
surv AS (
  SELECT arm,
         coalesce(t_event, t_last) AS t,
         CASE WHEN t_event IS NOT NULL THEN 1 ELSE 0 END AS died
  FROM u),
times AS (SELECT DISTINCT t AS dt FROM surv WHERE died = 1),
risk AS (
  SELECT dt,
         count(*) FILTER (surv.arm = 1)::BIGINT AS n1,
         count(*)::BIGINT AS n,
         count(*) FILTER (surv.died = 1 AND surv.t = dt
                          AND surv.arm = 1)::BIGINT AS d1,
         count(*) FILTER (surv.died = 1 AND surv.t = dt)::BIGINT AS d
  FROM times JOIN surv ON surv.t >= times.dt
  GROUP BY dt),
terms AS (
  SELECT sum(d1 - d * n1::DOUBLE / n) AS o_minus_e,
         sum(CASE WHEN n > 1
                  THEN d * (n1::DOUBLE / n) * (1 - n1::DOUBLE / n)
                       * (n - d) / (n - 1)
                  ELSE 0 END) AS var_sum,
         count(*)::BIGINT AS n_times
  FROM risk)
SELECT n_times,
       floor(o_minus_e * 1e6 + 0.5) / 1e6 AS o_minus_e,
       floor(var_sum * 1e6 + 0.5) / 1e6 AS var_sum,
       floor(o_minus_e * o_minus_e / var_sum * 1e6 + 0.5) / 1e6
         AS chi2,
       CASE WHEN o_minus_e * o_minus_e / var_sum > 3.841459
            THEN 'DIFFERENT' ELSE 'NO_DIFFERENCE' END AS verdict
FROM terms
"""


@query("logrank_survival_arms", _LOGRANK_ORACLE)
def logrank_survival_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275 — log-rank test between the X259 arms on time-to-first-
    purchase (censored at last observed day): at each death time,
    O−E = d1 − d·n1/n and the hypergeometric variance, chi² =
    (ΣO−E)²/ΣV — the standard censoring-correct two-sample survival
    comparison X148's Kaplan-Meier CURVE cannot give a verdict from.
    The at-risk table comes from a broadcast |death-times|-row dim
    range-joined to users (N×|times|, linear — the X246 bounded-BNLJ
    shape); integer counts keep every term deterministic."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.max((hash_bucket("user_id", 2, "did") == 1).cast("int"))
              .alias("arm"),
              F.datediff(
                  F.min(F.when(F.col("event_type") == "purchase",
                               F.to_date("ts"))),
                  F.min(F.to_date("ts"))).alias("t_event"),
              F.datediff(F.max(F.to_date("ts")),
                         F.min(F.to_date("ts"))).alias("t_last")))
    surv = u.select(
        "arm",
        F.coalesce("t_event", "t_last").alias("t"),
        F.when(F.col("t_event").isNotNull(), 1).otherwise(0)
        .alias("died"))
    times = (surv.filter(F.col("died") == 1).select(F.col("t").alias("dt"))
             .distinct())
    joined = F.broadcast(times).join(surv, surv.t >= times.dt)
    risk = joined.groupBy("dt").agg(
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("died") == 1) & (F.col("t") == F.col("dt"))
                       & (F.col("arm") == 1), 1)).alias("d1"),
        F.count(F.when((F.col("died") == 1) & (F.col("t") == F.col("dt")),
                       1)).alias("d"))
    n1n = F.col("n1").cast("double") / F.col("n")
    terms = risk.agg(
        F.sum(F.col("d1") - F.col("d") * n1n).alias("o_minus_e"),
        F.sum(F.when(F.col("n") > 1,
                     F.col("d") * n1n * (1 - n1n)
                     * (F.col("n") - F.col("d")) / (F.col("n") - 1))
              .otherwise(0.0)).alias("var_sum"),
        F.count(F.lit(1)).alias("n_times"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    chi2 = (F.col("o_minus_e") * F.col("o_minus_e") / F.col("var_sum"))
    return terms.select(
        "n_times", r6(F.col("o_minus_e")).alias("o_minus_e"),
        r6(F.col("var_sum")).alias("var_sum"), r6(chi2).alias("chi2"),
        F.when(chi2 > 3.841459, "DIFFERENT").otherwise("NO_DIFFERENCE")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X276 — permutation test with deterministic relabelings
# ---------------------------------------------------------------------------

_PERM_B = 50

_PERM_ORACLE = f"""
WITH o AS (
  SELECT o_custkey, o_totalprice AS v FROM orders),
obs AS (
  SELECT floor((avg(v) FILTER (translate(substr(sha256(
               o_custkey::VARCHAR || ':did'), 1, 6),
               'abcdef', '012345')::BIGINT % 2 = 1)
              - avg(v) FILTER (translate(substr(sha256(
               o_custkey::VARCHAR || ':did'), 1, 6),
               'abcdef', '012345')::BIGINT % 2 = 0))
             * 1e6 + 0.5) / 1e6 AS diff_obs
  FROM o),
b AS (SELECT unnest(generate_series(1, {_PERM_B})) AS b),
perm AS (
  SELECT b.b,
         floor((avg(v) FILTER (translate(substr(sha256(
               o_custkey::VARCHAR || '#' || b.b || ':perm'), 1, 6),
               'abcdef', '012345')::BIGINT % 2 = 1)
              - avg(v) FILTER (translate(substr(sha256(
               o_custkey::VARCHAR || '#' || b.b || ':perm'), 1, 6),
               'abcdef', '012345')::BIGINT % 2 = 0))
             * 1e6 + 0.5) / 1e6 AS diff_b
  FROM o, b GROUP BY b.b)
SELECT {_PERM_B}::BIGINT AS n_perms, diff_obs,
       count(*) FILTER (abs(diff_b) >= abs(diff_obs))::BIGINT
         AS n_extreme,
       floor((1 + count(*) FILTER (abs(diff_b) >= abs(diff_obs)))::DOUBLE
             / (1 + {_PERM_B}) * 1e6 + 0.5) / 1e6 AS p_value,
       CASE WHEN (1 + count(*) FILTER (abs(diff_b)
                                       >= abs(diff_obs)))::DOUBLE
                 / (1 + {_PERM_B}) < 0.05
            THEN 'REJECT' ELSE 'FAIL_TO_REJECT' END AS verdict
FROM perm, obs
GROUP BY diff_obs
"""


@query("permutation_test_orders", _PERM_ORACLE)
def permutation_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276 — permutation test of the arm difference in mean order
    value: 50 DETERMINISTIC relabelings via the sha2 bucket salted
    with the permutation index (the X9 discipline — reproducible
    "randomness", never rand()), p = (1 + #{|diff_b| ≥ |diff_obs|}) /
    (B+1) — distribution-free inference where X140's bootstrap gives
    a CI.  The ×B explode is the X140 bounded fan-out; per-b diffs
    are 1e-6-rounded before the extreme count so both engines compare
    identical values."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket
    from sync_cosmos_db_spark.operators.partitioning import spread

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").alias("v"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    arm = hash_bucket("o_custkey", 2, "did")
    obs = o.agg(r6(F.avg(F.when(arm == 1, F.col("v")))
                   - F.avg(F.when(arm == 0, F.col("v"))))
                .alias("diff_obs"))
    # spread() BEFORE the xB explode (guide §2.5, the X140 bootstrap
    # fix's twin): the single-split orders scan otherwise runs all
    # B x rows sha2 bucketings in ONE task (profiled 8.4 s single-task
    # at sf0.1); only the 2-column projection is shuffled.
    exploded = spread(o).withColumn(
        "b", F.explode(F.array(*[F.lit(i) for i in range(1, _PERM_B + 1)])))
    parm = hash_bucket(
        F.concat(F.col("o_custkey").cast("string"), F.lit("#"),
                 F.col("b").cast("string")), 2, "perm")
    perm = (exploded.groupBy("b")
            .agg(r6(F.avg(F.when(parm == 1, F.col("v")))
                    - F.avg(F.when(parm == 0, F.col("v"))))
                 .alias("diff_b")))
    extreme = (perm.crossJoin(F.broadcast(obs))
               .agg(F.max("diff_obs").alias("diff_obs"),
                    F.count(F.when(F.abs(F.col("diff_b"))
                                   >= F.abs(F.col("diff_obs")), 1))
                    .alias("n_extreme")))
    p = ((1 + F.col("n_extreme")).cast("double") / (1 + _PERM_B))
    return extreme.select(
        F.lit(_PERM_B).cast("bigint").alias("n_perms"), "diff_obs",
        "n_extreme", r6(p).alias("p_value"),
        F.when(p < 0.05, "REJECT").otherwise("FAIL_TO_REJECT")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X277 — Mantel-Haenszel stratified odds ratio
# ---------------------------------------------------------------------------

_MH_ORACLE = """
WITH o AS (
  SELECT c_nationkey AS nation,
         CASE WHEN translate(substr(sha256(o_custkey::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS arm,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders JOIN customer ON c_custkey = o_custkey),
s AS (
  SELECT nation,
         count(*) FILTER (arm = 1 AND y = 1)::BIGINT AS a,
         count(*) FILTER (arm = 1 AND y = 0)::BIGINT AS b,
         count(*) FILTER (arm = 0 AND y = 1)::BIGINT AS c,
         count(*) FILTER (arm = 0 AND y = 0)::BIGINT AS d,
         count(*)::BIGINT AS n
  FROM o GROUP BY nation
  HAVING count(*) FILTER (arm = 1) > 0
     AND count(*) FILTER (arm = 0) > 0),
sums AS (
  SELECT count(*)::BIGINT AS k,
         sum(a::DOUBLE * d / n) AS r_sum,
         sum(b::DOUBLE * c / n) AS s_sum,
         sum((a + d)::DOUBLE / n * a * d / n) AS pr,
         sum((a + d)::DOUBLE / n * b * c / n
             + (b + c)::DOUBLE / n * a * d / n) AS ps,
         sum((b + c)::DOUBLE / n * b * c / n) AS qs
  FROM s)
SELECT k,
       floor(r_sum / s_sum * 1e6 + 0.5) / 1e6 AS or_mh,
       floor(ln(r_sum / s_sum) * 1e6 + 0.5) / 1e6 AS ln_or,
       floor(sqrt(pr / (2 * r_sum * r_sum)
                  + ps / (2 * r_sum * s_sum)
                  + qs / (2 * s_sum * s_sum)) * 1e6 + 0.5) / 1e6
         AS se_ln_or
FROM sums
"""


@query("mh_odds_ratio_nations", _MH_ORACLE)
def mh_odds_ratio_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X277 — Mantel-Haenszel common odds ratio across nation strata
    (arm × fulfilled 2×2 per nation) with the Robins-Breslow-Greenland
    standard error of ln(OR) — the confounding-adjusted effect
    estimate: a naive pooled 2×2 is Simpson's-paradox-prone exactly
    where X273's per-stratum effects disagree.  Integer cell counts →
    every R/S/P/Q term is a deterministic small-integer ratio; one
    keyed aggregate + one 1-row reduction."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = (o.join(F.broadcast(cust), cust.c_custkey == o.o_custkey)
         .select(F.col("c_nationkey").alias("nation"),
                 (hash_bucket("o_custkey", 2, "did") == 1).cast("int")
                 .alias("arm"),
                 (F.col("o_orderstatus") == "F").cast("int").alias("y")))
    s = (j.groupBy("nation")
         .agg(F.count(F.when((F.col("arm") == 1) & (F.col("y") == 1), 1))
              .alias("a"),
              F.count(F.when((F.col("arm") == 1) & (F.col("y") == 0), 1))
              .alias("b"),
              F.count(F.when((F.col("arm") == 0) & (F.col("y") == 1), 1))
              .alias("c"),
              F.count(F.when((F.col("arm") == 0) & (F.col("y") == 0), 1))
              .alias("d"),
              F.count(F.lit(1)).alias("n"))
         .filter((F.col("a") + F.col("b") > 0)
                 & (F.col("c") + F.col("d") > 0)))
    ad = F.col("a").cast("double") * F.col("d") / F.col("n")
    bc = F.col("b").cast("double") * F.col("c") / F.col("n")
    sums = s.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(ad).alias("r_sum"),
        F.sum(bc).alias("s_sum"),
        F.sum((F.col("a") + F.col("d")).cast("double") / F.col("n") * ad)
        .alias("pr"),
        F.sum((F.col("a") + F.col("d")).cast("double") / F.col("n") * bc
              + (F.col("b") + F.col("c")).cast("double") / F.col("n") * ad)
        .alias("ps"),
        F.sum((F.col("b") + F.col("c")).cast("double") / F.col("n") * bc)
        .alias("qs"))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    orr = F.col("r_sum") / F.col("s_sum")
    return sums.select(
        "k", r6(orr).alias("or_mh"), r6(F.log(orr)).alias("ln_or"),
        r6(F.sqrt(F.col("pr") / (2 * F.col("r_sum") * F.col("r_sum"))
                  + F.col("ps") / (2 * F.col("r_sum") * F.col("s_sum"))
                  + F.col("qs") / (2 * F.col("s_sum") * F.col("s_sum"))))
        .alias("se_ln_or"))


# ---------------------------------------------------------------------------
# X278 — Cramér's V association matrix
# ---------------------------------------------------------------------------

_CV_ORACLE = """
WITH o AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         year(o_orderdate)::VARCHAR AS yr
  FROM orders),
pairs AS (
  SELECT 'status' AS col_a, 'priority' AS col_b, status AS va,
         priority AS vb FROM o
  UNION ALL
  SELECT 'status', 'yr', status, yr FROM o
  UNION ALL
  SELECT 'priority', 'yr', priority, yr FROM o),
cells AS (
  SELECT col_a, col_b, va, vb, count(*)::BIGINT AS nij
  FROM pairs GROUP BY col_a, col_b, va, vb),
margins AS (
  SELECT col_a, col_b, va, vb, nij,
         sum(nij) OVER (PARTITION BY col_a, col_b, va) AS ni,
         sum(nij) OVER (PARTITION BY col_a, col_b, vb) AS nj,
         sum(nij) OVER (PARTITION BY col_a, col_b) AS n
  FROM cells),
chi AS (
  -- chi2 = n * (sum nij^2/(ni*nj) - 1): algebraically identical to
  -- sum (nij-eij)^2/eij over the FULL r x c grid (empty cells
  -- contribute their eij through the -1 term), so zero cells need
  -- never materialize
  SELECT col_a, col_b,
         max(n) * (sum(nij::DOUBLE * nij / (ni::DOUBLE * nj)) - 1)
           AS chi2,
         max(n) AS n,
         count(DISTINCT va)::BIGINT AS r,
         count(DISTINCT vb)::BIGINT AS c
  FROM margins GROUP BY col_a, col_b)
SELECT col_a, col_b, r, c,
       floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
       floor(sqrt(chi2 / (n * (least(r, c) - 1))) * 1e6 + 0.5) / 1e6
         AS cramers_v
FROM chi
"""


@query("cramers_v_matrix_orders", _CV_ORACLE)
def cramers_v_matrix_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278 — Cramér's V association matrix over the categorical
    column pairs (status, priority, order-year): chi² per pair from
    window-computed margins, V = sqrt(chi²/(n·(min(r,c)−1))) — the
    normalized [0,1] association strength the raw chi² (X73) cannot
    compare across pairs with different table sizes.  One in-row
    stack unpivot fans each row into its 3 pairs, then one (pair,
    cell) count + pair-partitioned margin windows — the pair list is
    compile-time, the data is scanned once."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("string").alias("yr"))
    pairs = o.select(F.expr(
        "stack(3, 'status', 'priority', status, priority,"
        " 'status', 'yr', status, yr,"
        " 'priority', 'yr', priority, yr)")
        .alias("col_a", "col_b", "va", "vb"))
    cells = (pairs.groupBy("col_a", "col_b", "va", "vb")
             .agg(F.count(F.lit(1)).alias("nij")))
    from pyspark.sql import Window as W

    pa = W.partitionBy("col_a", "col_b", "va")
    pb = W.partitionBy("col_a", "col_b", "vb")
    pn = W.partitionBy("col_a", "col_b")
    m = (cells
         .withColumn("ni", F.sum("nij").over(pa))
         .withColumn("nj", F.sum("nij").over(pb))
         .withColumn("n", F.sum("nij").over(pn)))
    # chi2 = n * (sum nij^2/(ni*nj) - 1) == the full-grid Pearson sum
    # including empty cells, without materializing them
    term = (F.col("nij").cast("double") * F.col("nij")
            / (F.col("ni").cast("double") * F.col("nj")))
    chi = (m.groupBy("col_a", "col_b")
           .agg((F.max("n") * (F.sum(term) - 1)).alias("chi2"),
                F.max("n").alias("n"),
                F.count_distinct("va").alias("r"),
                F.count_distinct("vb").alias("c")))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return chi.select(
        "col_a", "col_b", "r", "c", r6(F.col("chi2")).alias("chi2"),
        r6(F.sqrt(F.col("chi2")
                  / (F.col("n") * (F.least("r", "c") - 1))))
        .alias("cramers_v"))


# ---------------------------------------------------------------------------
# X279 — Kruskal-Wallis k-sample rank test
# ---------------------------------------------------------------------------

_KW_CRIT = ("CASE k - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 "
            "WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729 "
            "WHEN 5 THEN 11.070498 ELSE 12.591587 END")

_KW_ORACLE = f"""
WITH o AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders),
gv AS (SELECT g, v, count(*)::BIGINT AS tg FROM o GROUP BY g, v),
vc AS (SELECT v, sum(tg)::DOUBLE AS t FROM gv GROUP BY v),
r AS (SELECT v, t,
             sum(t) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - (t - 1) / 2 AS midrank
      FROM vc),
gr AS (
  SELECT g, sum(tg)::BIGINT AS n_g, sum(midrank * tg) AS rsum
  FROM gv JOIN r USING (v) GROUP BY g),
tot AS (
  SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
         sum(rsum * rsum / n_g) AS hterm
  FROM gr),
ties AS (SELECT coalesce(sum(t * t * t - t), 0) AS tie3 FROM vc WHERE t > 1),
h AS (
  SELECT k, n,
         12.0 / (n * (n + 1.0)) * hterm - 3 * (n + 1) AS h_raw,
         1 - tie3 / (n::DOUBLE * n * n - n) AS corr
  FROM tot, ties)
SELECT k, n,
       floor(h_raw * 1e6 + 0.5) / 1e6 AS h_raw,
       floor(h_raw / corr * 1e6 + 0.5) / 1e6 AS h_corrected,
       CASE WHEN h_raw / corr > {_KW_CRIT}
            THEN 'DIFFERENT' ELSE 'NO_DIFFERENCE' END AS verdict
FROM h
"""


@query("kruskal_wallis_priority_price", _KW_ORACLE)
def kruskal_wallis_priority_price(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """X279 — Kruskal-Wallis H test of order value across the five
    priorities: the k-sample generalization of X136's Mann-Whitney
    (which can only compare two groups).  H = 12/(N(N+1)) Σ R_g²/n_g
    − 3(N+1) with the Σ(t³−t)/(N³−N) tie correction, verdict against
    the χ²(k−1) 95% critical value (compile-time CASE, k data-driven).
    Midranks by the value-keyed collapse + the two-phase distributed
    scan (``profiling.value_midranks`` — no single-partition window
    even over the distinct values); midranks are exact .0/.5 doubles
    and every rank-sum stays below 2⁵³, so H is deterministic before
    the final 1e-6 round."""
    from sync_cosmos_db_spark.operators.profiling import value_midranks

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"))
    gv = o.groupBy("g", "v").agg(F.count(F.lit(1)).alias("tg"))
    vc = (gv.groupBy("v")
          .agg(F.sum("tg").cast("double").alias("t")))
    r = value_midranks(vc, "v", "t")
    gr = (gv.join(r, "v")
          .groupBy("g")
          .agg(F.sum("tg").alias("n_g"),
               F.sum(F.col("midrank") * F.col("tg")).alias("rsum")))
    tot = gr.agg(
        F.count(F.lit(1)).alias("k"), F.sum("n_g").alias("n"),
        F.sum(F.col("rsum") * F.col("rsum") / F.col("n_g")).alias("hterm"))
    ties = (vc.filter(F.col("t") > 1)
            .agg(F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0.0)).alias("tie3")))
    h = (tot.crossJoin(F.broadcast(ties))
         .select("k", "n",
                 (12.0 / (F.col("n") * (F.col("n") + 1.0))
                  * F.col("hterm") - 3 * (F.col("n") + 1)).alias("h_raw"),
                 (1 - F.col("tie3")
                  / (F.col("n").cast("double") * F.col("n") * F.col("n")
                     - F.col("n"))).alias("corr")))

    def r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    hc = F.col("h_raw") / F.col("corr")
    crit = (F.when(F.col("k") - 1 == 1, 3.841459)
            .when(F.col("k") - 1 == 2, 5.991465)
            .when(F.col("k") - 1 == 3, 7.814728)
            .when(F.col("k") - 1 == 4, 9.487729)
            .when(F.col("k") - 1 == 5, 11.070498)
            .otherwise(12.591587))
    return h.select(
        "k", "n", r6(F.col("h_raw")).alias("h_raw"),
        r6(hc).alias("h_corrected"),
        F.when(hc > crit, "DIFFERENT").otherwise("NO_DIFFERENCE")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X280 — periodicity scan by calendar folding
# ---------------------------------------------------------------------------

_PERIODS = [7, 30, 91, 365]

_PERIOD_ORACLE = f"""
WITH d AS (
  SELECT o_orderdate AS dt,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS cents
  FROM orders GROUP BY 1),
m AS (SELECT min(dt) AS d0, count(*)::BIGINT AS n_days,
             sum(cents)::DOUBLE AS s,
             sum(cents::DOUBLE * cents) AS q
      FROM d),
f AS (SELECT p, date_diff('day', d0, dt) % p AS b, cents
      FROM d, m, (VALUES {", ".join(f"({p})" for p in _PERIODS)}) pp(p)),
bk AS (SELECT p, b, sum(cents)::DOUBLE AS sb, count(*)::BIGINT AS cb
       FROM f GROUP BY p, b),
e AS (SELECT p, count(*)::BIGINT AS n_buckets,
             sum(sb * sb / cb) AS between_raw
      FROM bk GROUP BY p)
SELECT p AS period, n_days, n_buckets,
       floor((between_raw - s * s / n_days)
             / (q - s * s / n_days) * 1e6 + 0.5) / 1e6 AS eta2
FROM e, m
"""


@query("periodicity_scan_daily_revenue", _PERIOD_ORACLE)
def periodicity_scan_daily_revenue(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """X280 — seasonality scan over daily revenue by CALENDAR FOLDING:
    for each candidate period p ∈ {7, 30, 91, 365}, fold day-index
    mod p and score η² = SS_between/SS_total (the ANOVA share of
    variance the fold explains) — a transcendental-free periodogram:
    a DFT would sum thousands of cos() terms whose last-ulp
    engine disagreement amplifies, while η² here is built entirely
    from EXACT bigint per-bucket sums (between-SS by the Σ S_b²/c_b −
    S²/n identity, the X278 trick applied to variance).  Scale shape:
    one keyed daily collapse, a ×|periods|=4 in-row fan-out over the
    tiny day table, per-(p, bucket) keyed agg — never a window."""
    d = (load_table(spark, sf_dir, "orders")
         .groupBy(F.col("o_orderdate").alias("dt"))
         .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("bigint")).alias("cents")))
    m = d.agg(F.min("dt").alias("d0"),
              F.count(F.lit(1)).alias("n_days"),
              F.sum("cents").cast("double").alias("s"),
              F.sum(F.col("cents").cast("double") * F.col("cents"))
              .alias("q"))
    f = (d.crossJoin(F.broadcast(m))
         .withColumn("p", F.explode(F.array(
             *[F.lit(p) for p in _PERIODS])))
         .select("p", (F.datediff("dt", "d0") % F.col("p")).alias("b"),
                 "cents", "n_days", "s", "q"))
    bk = (f.groupBy("p", "b")
          .agg(F.sum("cents").cast("double").alias("sb"),
               F.count(F.lit(1)).alias("cb"),
               F.max("n_days").alias("n_days"), F.max("s").alias("s"),
               F.max("q").alias("q")))
    e = (bk.groupBy("p")
         .agg(F.count(F.lit(1)).alias("n_buckets"),
              F.sum(F.col("sb") * F.col("sb") / F.col("cb"))
              .alias("between_raw"),
              F.max("n_days").alias("n_days"), F.max("s").alias("s"),
              F.max("q").alias("q")))
    ssn = F.col("s") * F.col("s") / F.col("n_days")
    return e.select(
        F.col("p").alias("period"), "n_days", "n_buckets",
        (F.floor((F.col("between_raw") - ssn) / (F.col("q") - ssn)
                 * 1e6 + F.lit(0.5)) / 1e6).alias("eta2"))


# ---------------------------------------------------------------------------
# X281 — Ljung-Box autocorrelation test
# ---------------------------------------------------------------------------

_LB_LAGS = 10

_LB_CRIT = ("CASE lag WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 "
            "WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729 "
            "WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 "
            "WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313 "
            "WHEN 9 THEN 16.918978 ELSE 18.307038 END")

_LB_ORACLE = f"""
WITH d0 AS (
  SELECT o_orderdate AS dt,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS cents
  FROM orders GROUP BY 1),
m AS (SELECT min(dt) AS dmin, count(*)::BIGINT AS n,
             avg(cents::DOUBLE) AS mu
      FROM d0),
d AS (SELECT date_diff('day', dmin, dt) AS di,
             cents::DOUBLE - mu AS e, n
      FROM d0, m),
den AS (SELECT sum(e * e) AS s2, max(n) AS n FROM d),
k AS (SELECT unnest(generate_series(1, {_LB_LAGS})) AS lag),
num AS (
  SELECT k.lag, sum(a.e * b.e) AS nk, count(*)::BIGINT AS n_pairs
  FROM d a JOIN k ON true JOIN d b ON b.di = a.di + k.lag
  GROUP BY k.lag),
rho AS (SELECT lag, n_pairs,
               floor(nk / s2 * 1e6 + 0.5) / 1e6 AS rho, den.n
        FROM num, den),
q AS (SELECT lag, n_pairs, rho,
             floor(sum(n * (n + 2.0) * rho * rho / (n - lag))
                     OVER (ORDER BY lag
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) * 1e6 + 0.5) / 1e6 AS q_lb
      FROM rho)
SELECT lag, n_pairs, rho, q_lb,
       CASE WHEN q_lb > {_LB_CRIT}
            THEN 'AUTOCORRELATED' ELSE 'WHITE' END AS verdict
FROM q
"""


@query("ljung_box_daily_revenue", _LB_ORACLE)
def ljung_box_daily_revenue(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X281 — Ljung-Box portmanteau test on daily revenue: ρ̂_k =
    Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)² at calendar lags 1..10
    (pairwise-complete over observed days — gaps simply contribute no
    pair), Q_m = n(n+2) Σ_{k≤m} ρ̂_k²/(n−k) cumulative per lag,
    verdict vs χ²(m) 95%.  The X108 single-lag autocorrelation scaled
    to a joint test.  Lags come from a ×10 IN-ROW fan-out followed by
    an equi-join on (day-index + lag) — never a global per-row order
    window; each ρ̂_k is 1e-6-rounded BEFORE entering Q (the X276
    discipline), so the 10-term cumulative window (ordered, 10 rows)
    sums identical values in identical order in both engines."""
    from pyspark.sql import Window as W

    d0 = (load_table(spark, sf_dir, "orders")
          .groupBy(F.col("o_orderdate").alias("dt"))
          .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                     .cast("bigint")).alias("cents")))
    m = d0.agg(F.min("dt").alias("dmin"),
               F.count(F.lit(1)).alias("n"),
               F.avg(F.col("cents").cast("double")).alias("mu"))
    d = (d0.crossJoin(F.broadcast(m))
         .select(F.datediff("dt", "dmin").alias("di"),
                 (F.col("cents").cast("double") - F.col("mu")).alias("e"),
                 "n"))
    den = d.agg(F.sum(F.col("e") * F.col("e")).alias("s2"),
                F.max("n").alias("n"))
    a = d.withColumn("lag", F.explode(F.array(
        *[F.lit(k) for k in range(1, _LB_LAGS + 1)])))
    b = d.select(F.col("di").alias("dib"), F.col("e").alias("eb"))
    num = (a.join(b, a.di + a.lag == b.dib)
           .groupBy("lag")
           .agg(F.sum(F.col("e") * F.col("eb")).alias("nk"),
                F.count(F.lit(1)).alias("n_pairs")))
    rho = (num.crossJoin(F.broadcast(den))
           .select("lag", "n_pairs",
                   (F.floor(F.col("nk") / F.col("s2") * 1e6 + F.lit(0.5))
                    / 1e6).alias("rho"),
                   "n"))
    w = (W.orderBy("lag")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    q = rho.withColumn(
        "q_lb",
        F.floor(F.sum(F.col("n") * (F.col("n") + 2.0) * F.col("rho")
                      * F.col("rho") / (F.col("n") - F.col("lag")))
                .over(w) * 1e6 + F.lit(0.5)) / 1e6)
    crit = (F.when(F.col("lag") == 1, 3.841459)
            .when(F.col("lag") == 2, 5.991465)
            .when(F.col("lag") == 3, 7.814728)
            .when(F.col("lag") == 4, 9.487729)
            .when(F.col("lag") == 5, 11.070498)
            .when(F.col("lag") == 6, 12.591587)
            .when(F.col("lag") == 7, 14.067140)
            .when(F.col("lag") == 8, 15.507313)
            .when(F.col("lag") == 9, 16.918978)
            .otherwise(18.307038))
    return q.select(
        "lag", "n_pairs", "rho", "q_lb",
        F.when(F.col("q_lb") > crit, "AUTOCORRELATED").otherwise("WHITE")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X282 — Brown-Forsythe variance-homogeneity test
# ---------------------------------------------------------------------------

# F(k-1, inf) 95% critical values = chi2(k-1)/(k-1): the asymptotic
# denominator-df limit, identical CASE in both engines.
_BF_CRIT = ("CASE k - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 2.995732 "
            "WHEN 3 THEN 2.604909 WHEN 4 THEN 2.371932 "
            "WHEN 5 THEN 2.214100 ELSE 2.098598 END")

_BF_ORACLE = f"""
WITH o AS (
  SELECT o_orderpriority AS g,
         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
  FROM orders),
med AS (SELECT g, median(cents) AS med FROM o GROUP BY g),
dev AS (SELECT o.g, abs(o.cents - med.med) AS z
        FROM o JOIN med USING (g)),
s AS (SELECT g, count(*)::BIGINT AS n_g, sum(z) AS s_g,
             sum(z * z) AS q_g
      FROM dev GROUP BY g),
tot AS (
  SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
         sum(s_g) AS s, sum(q_g) AS q,
         sum(s_g * s_g / n_g) AS bterm
  FROM s),
f AS (
  SELECT k, n,
         ((bterm - s * s / n) / (k - 1))
           / ((q - bterm) / (n - k)) AS f_stat
  FROM tot)
SELECT k, n, floor(f_stat * 1e6 + 0.5) / 1e6 AS f_stat,
       CASE WHEN f_stat > {_BF_CRIT}
            THEN 'HETEROSCEDASTIC' ELSE 'HOMOSCEDASTIC' END AS verdict
FROM f
"""


@query("brown_forsythe_priority_var", _BF_ORACLE)
def brown_forsythe_priority_var(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X282 — Brown-Forsythe variance-homogeneity test across the
    five priorities: one-way ANOVA F on |x − group MEDIAN| (the
    median-centered Levene variant that stays honest under skew),
    verdict vs the asymptotic F(k−1, ∞) = χ²(k−1)/(k−1) critical
    value.  Exact group medians of integer cents interpolate to .0/.5
    (Spark ``percentile`` and DuckDB ``median`` share the linear
    interpolation rule), so every |deviation| is an exact half-cent
    multiple; between/within by the Σ S_g²/n_g identity — one keyed
    agg + a broadcast 5-row median join + a 1-row reduction."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"))
    med = o.groupBy("g").agg(F.expr("percentile(cents, 0.5)").alias("med"))
    dev = (o.join(F.broadcast(med), "g")
           .select("g", F.abs(F.col("cents") - F.col("med")).alias("z")))
    s = dev.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"),
                             F.sum("z").alias("s_g"),
                             F.sum(F.col("z") * F.col("z")).alias("q_g"))
    tot = s.agg(F.count(F.lit(1)).alias("k"),
                F.sum("n_g").alias("n"),
                F.sum("s_g").alias("s"), F.sum("q_g").alias("q"),
                F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g"))
                .alias("bterm"))
    fstat = (((F.col("bterm") - F.col("s") * F.col("s") / F.col("n"))
              / (F.col("k") - 1))
             / ((F.col("q") - F.col("bterm")) / (F.col("n") - F.col("k"))))
    crit = (F.when(F.col("k") - 1 == 1, 3.841459)
            .when(F.col("k") - 1 == 2, 2.995732)
            .when(F.col("k") - 1 == 3, 2.604909)
            .when(F.col("k") - 1 == 4, 2.371932)
            .when(F.col("k") - 1 == 5, 2.214100)
            .otherwise(2.098598))
    return tot.select(
        "k", "n",
        (F.floor(fstat * 1e6 + F.lit(0.5)) / 1e6).alias("f_stat"),
        F.when(fstat > crit, "HETEROSCEDASTIC")
        .otherwise("HOMOSCEDASTIC").alias("verdict"))


# ---------------------------------------------------------------------------
# X283 — two-sample Cramér-von Mises test
# ---------------------------------------------------------------------------

_CVM_ORACLE = """
WITH o AS (
  SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS v,
         CASE WHEN translate(substr(sha256(o_custkey::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS arm
  FROM orders),
vc AS (SELECT v, count(*)::DOUBLE AS t,
              sum(arm)::DOUBLE AS t1,
              sum(1 - arm)::DOUBLE AS t0
       FROM o GROUP BY v),
r AS (SELECT v, t, t1, t0,
             sum(t) OVER w - (t - 1) / 2 AS mr,
             sum(t1) OVER w - (t1 - 1) / 2 AS mr1,
             sum(t0) OVER w - (t0 - 1) / 2 AS mr0
      FROM vc
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
u AS (
  SELECT sum(t1)::BIGINT AS n1, sum(t0)::BIGINT AS n0,
         sum(t1 * (mr - mr1) * (mr - mr1)) AS u1,
         sum(t0 * (mr - mr0) * (mr - mr0)) AS u0
  FROM r),
tstat AS (
  SELECT n1, n0,
         (n1 * u1 + n0 * u0)
           / (n1::DOUBLE * n0 * (n1 + n0))
           - (4.0 * n1 * n0 - 1) / (6.0 * (n1 + n0)) AS t_cvm
  FROM u)
SELECT n1, n0, floor(t_cvm * 1e6 + 0.5) / 1e6 AS t_cvm,
       CASE WHEN t_cvm > 0.461 THEN 'DIFFERENT'
            ELSE 'NO_DIFFERENCE' END AS verdict
FROM tstat
"""


@query("cvm_two_sample_arms", _CVM_ORACLE)
def cvm_two_sample_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X283 — two-sample Cramér-von Mises test between the X259 arms
    on order value (integer cents): T = U/(n·m·N) − (4nm−1)/(6N) with
    U = n Σ_X (r_i − i)² + m Σ_Y (s_j − j)², ranks as midranks (ties
    get one shared combined/within-arm midrank, weighted by the tie
    count — the deterministic tie convention BOTH engines implement
    identically).  Sensitive to distribution shape everywhere the KS
    statistic only sees the single largest gap.  Ranks come from ONE
    :func:`profiling.value_midranks` pass with per-arm extra counts —
    the two-phase distributed scan, no single-partition window;
    verdict vs the 0.461 asymptotic 5% critical value."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket
    from sync_cosmos_db_spark.operators.profiling import value_midranks

    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("v"),
        (hash_bucket("o_custkey", 2, "did") == 1).cast("int").alias("arm"))
    vc = o.groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.sum("arm").cast("double").alias("t1"),
        F.sum(1 - F.col("arm")).cast("double").alias("t0"))
    r = value_midranks(vc, "v", "t", out_col="mr",
                       extra_counts=("t1", "t0"))
    u = r.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum("t0").cast("long").alias("n0"),
        F.sum(F.col("t1") * (F.col("mr") - F.col("mr_t1"))
              * (F.col("mr") - F.col("mr_t1"))).alias("u1"),
        F.sum(F.col("t0") * (F.col("mr") - F.col("mr_t0"))
              * (F.col("mr") - F.col("mr_t0"))).alias("u0"))
    n1, n0 = F.col("n1"), F.col("n0")
    t_cvm = ((n1 * F.col("u1") + n0 * F.col("u0"))
             / (n1.cast("double") * n0 * (n1 + n0))
             - (4.0 * n1 * n0 - 1) / (6.0 * (n1 + n0)))
    return u.select(
        "n1", "n0",
        (F.floor(t_cvm * 1e6 + F.lit(0.5)) / 1e6).alias("t_cvm"),
        F.when(t_cvm > 0.461, "DIFFERENT").otherwise("NO_DIFFERENCE")
        .alias("verdict"))


# ---------------------------------------------------------------------------
# X284 — Mood's median test
# ---------------------------------------------------------------------------

_MOOD_CRIT = ("CASE k - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 "
              "WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729 "
              "WHEN 5 THEN 11.070498 ELSE 12.591587 END")

_MOOD_ORACLE = f"""
WITH o AS (
  SELECT o_orderpriority AS g,
         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
  FROM orders),
med AS (SELECT median(cents) AS med FROM o),
s AS (SELECT g,
             sum(CASE WHEN cents > med THEN 1 ELSE 0 END)::BIGINT AS a,
             sum(CASE WHEN cents <= med THEN 1 ELSE 0 END)::BIGINT AS b
      FROM o, med GROUP BY g),
tot AS (SELECT count(*)::BIGINT AS k, sum(a)::BIGINT AS ta,
               sum(b)::BIGINT AS tb, sum(a + b)::BIGINT AS n FROM s),
chi AS (
  SELECT k, n,
         sum(pow(a - (a + b) * ta::DOUBLE / n, 2)
               / ((a + b) * ta::DOUBLE / n)
             + pow(b - (a + b) * tb::DOUBLE / n, 2)
               / ((a + b) * tb::DOUBLE / n)) AS chi2
  FROM s, tot GROUP BY k, n)
SELECT k, n, floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
       CASE WHEN chi2 > {_MOOD_CRIT}
            THEN 'DIFFERENT' ELSE 'NO_DIFFERENCE' END AS verdict
FROM chi
"""


@query("mood_median_priority", _MOOD_ORACLE)
def mood_median_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X284 — Mood's median test across the five priorities: each
    group's above/not-above counts vs the GLOBAL median (values equal
    to the median count as "not above" — the convention both engines
    implement), chi² against the margin-expected counts, df = k−1.
    The crudest but most outlier-proof of the k-sample location tests
    (X279 uses full rank information; Mood only the median split).
    Exact global median of integer cents (.0/.5 interpolation shared
    by both engines) broadcast via a 1-row crossJoin (the X73
    shape)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"))
    med = o.agg(F.expr("percentile(cents, 0.5)").alias("med"))
    s = (o.crossJoin(F.broadcast(med))
         .groupBy("g")
         .agg(F.sum((F.col("cents") > F.col("med")).cast("int"))
              .cast("long").alias("a"),
              F.sum((F.col("cents") <= F.col("med")).cast("int"))
              .cast("long").alias("b")))
    tot = s.agg(F.count(F.lit(1)).alias("k"), F.sum("a").alias("ta"),
                F.sum("b").alias("tb"),
                F.sum(F.col("a") + F.col("b")).alias("n"))
    j = s.crossJoin(F.broadcast(tot))
    ea = (F.col("a") + F.col("b")) * F.col("ta").cast("double") / F.col("n")
    eb = (F.col("a") + F.col("b")) * F.col("tb").cast("double") / F.col("n")
    chi = (j.groupBy("k", "n")
           .agg(F.sum(F.pow(F.col("a") - ea, 2) / ea
                      + F.pow(F.col("b") - eb, 2) / eb).alias("chi2")))
    crit = (F.when(F.col("k") - 1 == 1, 3.841459)
            .when(F.col("k") - 1 == 2, 5.991465)
            .when(F.col("k") - 1 == 3, 7.814728)
            .when(F.col("k") - 1 == 4, 9.487729)
            .when(F.col("k") - 1 == 5, 11.070498)
            .otherwise(12.591587))
    return chi.select(
        "k", "n",
        (F.floor(F.col("chi2") * 1e6 + F.lit(0.5)) / 1e6).alias("chi2"),
        F.when(F.col("chi2") > crit, "DIFFERENT")
        .otherwise("NO_DIFFERENCE").alias("verdict"))


# ---------------------------------------------------------------------------
# X285 — Hellinger / Bhattacharyya / total-variation arm distance
# ---------------------------------------------------------------------------

_HELLINGER_ORACLE = """
WITH o AS (
  SELECT length(floor(o_totalprice * 100 + 0.5)::BIGINT::VARCHAR)
           AS bucket,
         CASE WHEN translate(substr(sha256(o_custkey::VARCHAR || ':did'),
                                    1, 6), 'abcdef', '012345')::BIGINT
                   % 2 = 1 THEN 1 ELSE 0 END AS arm
  FROM orders),
c AS (SELECT bucket, sum(arm)::BIGINT AS c1,
             sum(1 - arm)::BIGINT AS c0
      FROM o GROUP BY bucket),
tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c0)::BIGINT AS n0 FROM c),
d AS (
  SELECT count(*)::BIGINT AS n_buckets, max(n1) AS n1, max(n0) AS n0,
         sum(sqrt(c1::DOUBLE * c0)) / sqrt(max(n1)::DOUBLE * max(n0))
           AS bc,
         sum(abs(c1::DOUBLE / n1 - c0::DOUBLE / n0)) / 2
           AS tv
  FROM c, tot)
SELECT n_buckets, n1, n0,
       floor(bc * 1e6 + 0.5) / 1e6 AS bhattacharyya,
       floor(sqrt(1 - least(bc, 1.0)) * 1e6 + 0.5) / 1e6 AS hellinger,
       floor(tv * 1e6 + 0.5) / 1e6 AS total_variation
FROM d
"""


@query("hellinger_arm_price_digits", _HELLINGER_ORACLE)
def hellinger_arm_price_digits(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X285 — Hellinger / Bhattacharyya / total-variation distance
    between the two X259 arms' order-value distributions, bucketed by
    DIGIT COUNT of the integer cents (an exact, transcendental-free
    log10 decade — ``length(cast(bigint as string))``, the X280
    discipline of never letting a float log() near a bucket
    boundary).  BC = Σ√(c1·c0)/√(n1·n0) folds the per-arm
    normalization out of the per-bucket terms, so one keyed count +
    ONE 1-row reduction computes all three distances; buckets missing
    from one arm contribute 0 to BC and their full mass to TV
    automatically (no dense grid, no outer join)."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket

    o = load_table(spark, sf_dir, "orders").select(
        F.length(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                 .cast("bigint").cast("string")).alias("bucket"),
        (hash_bucket("o_custkey", 2, "did") == 1).cast("int").alias("arm"))
    c = o.groupBy("bucket").agg(
        F.sum("arm").cast("long").alias("c1"),
        F.sum(1 - F.col("arm")).cast("long").alias("c0"))
    tot = c.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"))
    d = (c.crossJoin(F.broadcast(tot))
         .agg(F.count(F.lit(1)).alias("n_buckets"),
              F.max("n1").alias("n1"), F.max("n0").alias("n0"),
              (F.sum(F.sqrt(F.col("c1").cast("double") * F.col("c0")))
               / F.sqrt(F.max("n1").cast("double") * F.max("n0")))
              .alias("bc"),
              (F.sum(F.abs(F.col("c1").cast("double") / F.col("n1")
                           - F.col("c0").cast("double") / F.col("n0")))
               / 2).alias("tv")))

    def r6(c_):
        return F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6

    return d.select(
        "n_buckets", "n1", "n0", r6(F.col("bc")).alias("bhattacharyya"),
        r6(F.sqrt(1 - F.least(F.col("bc"), F.lit(1.0))))
        .alias("hellinger"),
        r6(F.col("tv")).alias("total_variation"))
