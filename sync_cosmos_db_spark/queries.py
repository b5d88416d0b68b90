"""Named query registry — the driver-facing surface of the engine.

Every implemented operator from SURVEY.md §2 is exposed here as a named
query: ``QUERIES[name]`` is a ``(spark, sf_dir) -> DataFrame`` callable
and ``ORACLE_SQL[name]`` (when the semantics are SQL-expressible) is the
equivalent ANSI SQL that DuckDB runs on the same parquet tables. The
driver hash-compares the two at sf0.01 — column names are aliased
identically on both sides, floats are rounded in-query on both sides,
and timestamps are surfaced as epoch BIGINT to avoid cross-engine
formatting drift.

Output convention (round-3 verdict item 7): every oracle-checked query
surfaces ONLY scalar-typed columns.  The driver's canonicalizer sorts
result cells through pandas, and list/struct/map cells are unhashable
there (``TypeError: unhashable type: 'list'``) — arrays must be
emitted as canonical strings (``F.array_join(...)`` in Spark,
``array_to_string(...)`` in DuckDB).  Enforced registry-wide by
``tests/oracle_utils.assert_scalar_schema`` inside every ``compare()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.migration import classify_actions
from sync_cosmos_db_spark.session import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def fround(c, n: int):
    """Deterministic cross-engine rounding: ``floor(x·10ⁿ + 0.5)/10ⁿ``.

    Spark's ``round()`` (BigDecimal HALF_UP on the exact double) and
    DuckDB's ``round()`` (decimal-string based) disagree on doubles
    whose shortest repr is an exact tie (e.g. 0.491249999999999964 →
    Spark 0.4912, DuckDB 0.4913). This formula is plain IEEE arithmetic,
    so both engines compute it bit-identically from the same input.
    SQL twin: ``floor(x * 10^n + 0.5) / 10^n``.
    """
    c = F.col(c) if isinstance(c, str) else c
    s = 10 ** n
    return F.floor(c * s + F.lit(0.5)) / s


def fsum(c, n: int):
    """Reorder-proof cross-engine SUM at the 10^-n grid.

    ``fround(F.sum(x), n)`` rounds AFTER an order-dependent double sum:
    Spark accumulates in partition order, DuckDB in its own scan order,
    and once the accumulated reorder error approaches half a grid unit
    (cents-rounds of million-scale revenue sums — the round-9
    ``effective_rate_revenue`` driver flip) the floor lands on different
    integers.  This instead snaps EVERY ROW to an integer number of grid
    units (one identical IEEE multiply+floor per row on both engines),
    sums exact BIGINTs (no float accumulation at all, associative), and
    divides back once.  For 10^-n-grid-valued inputs (prices are cents)
    the result equals the intended exact sum at ANY scale and ANY
    partitioning. SQL twin: ``sum(floor(x * 10^n + 0.5)::BIGINT) / 10^n.0``.
    """
    c = F.col(c) if isinstance(c, str) else c
    s = 10 ** n
    return F.sum(F.floor(c * s + F.lit(0.5)).cast("long")) / float(s)


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL)."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


# ---------------------------------------------------------------------------
# Migration kernel (flagship) — O1, O3, O6, O7, O10, O11, O12, O21, O22
# ---------------------------------------------------------------------------

def _derived_source_target(spark: SparkSession, sf_dir: str):
    """Deterministic source/target pair derived from ``documents``:
    target is missing every doc_id % 3 == 0 (→ insert) and has stale text
    for doc_id % 5 == 0 (→ update); the rest are identical (→ skip)."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs
    tgt = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" [stale]")))
            .otherwise(F.col("text")),
        )
    )
    return src, tgt


_MIGRATE_ORACLE_CTE = """
WITH src AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
), tgt AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' [stale]' ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 3 <> 0
), tagged AS (
  SELECT s.doc_id,
         CASE WHEN t.doc_id IS NULL THEN 'insert'
              WHEN s.text <> t.text OR s.lang <> t.lang
                   OR s.source <> t.source OR s.n_chars <> t.n_chars THEN 'update'
              ELSE 'skip' END AS action
  FROM src s LEFT JOIN tgt t USING (doc_id)
)
"""


@query(
    "migrate_classify_counts",
    _MIGRATE_ORACLE_CTE
    + "SELECT action, count(*) AS n FROM tagged GROUP BY action ORDER BY action",
)
def migrate_classify_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-action counter quadruple of the migration classifier —
    the set-at-a-time form of the reference's whole inner loop
    (``src/migration.py:117-148``)."""
    src, tgt = _derived_source_target(spark, sf_dir)
    tagged = classify_actions(src, tgt, keys=["doc_id"])
    return (tagged.groupBy("action").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("action"))


@query(
    "migrate_actions_detail",
    _MIGRATE_ORACLE_CTE + "SELECT doc_id, action FROM tagged",
)
def migrate_actions_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level classifier output (O12): every source doc tagged."""
    src, tgt = _derived_source_target(spark, sf_dir)
    return classify_actions(src, tgt, keys=["doc_id"]).select("doc_id", "action")


@query(
    "verify_counts",
    _MIGRATE_ORACLE_CTE.replace(", tagged AS (", ", _unused AS (")
    + """SELECT (SELECT count(*) FROM src) AS source_count,
               (SELECT count(*) FROM tgt) AS target_count,
               (SELECT count(*) FROM src) = (SELECT count(*) FROM tgt) AS counts_match""",
)
def verify_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 verification as a query: source vs target counts + match flag
    (reference ``src/migration.py:182-211``)."""
    src, tgt = _derived_source_target(spark, sf_dir)
    return (
        src.agg(F.count(F.lit(1)).alias("source_count"))
        .crossJoin(tgt.agg(F.count(F.lit(1)).alias("target_count")))
        .withColumn("counts_match",
                    F.col("source_count") == F.col("target_count"))
    )


@query("count_lineitem", "SELECT count(*) AS n FROM lineitem")
def count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — COUNT(*) aggregate, pushed down to the parquet footer
    (reference server-side ``SELECT VALUE COUNT(1)``, ``src/migration.py:62``)."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@query(
    "doc_content_hash",
    "SELECT doc_id, sha256(text) AS text_sha FROM documents",
)
def doc_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 — content hashing parity: identical sha256 hex in both engines."""
    return (load_table(spark, sf_dir, "documents")
            .select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha")))


@query(
    "migrate_classify_json_docs",
    _MIGRATE_ORACLE_CTE
    + "SELECT action, count(*) AS n FROM tagged GROUP BY action ORDER BY action",
)
def migrate_classify_json_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-schema migration path (SURVEY.md §1.3): documents carried
    as a single JSON ``payload`` string — the schemaless-Cosmos fallback
    — with the merge key extracted via ``get_json_object`` (O8 dynamic
    variant) and change detection on payload equality. Must classify
    identically to the typed-column flagship, which is exactly what the
    shared oracle asserts."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.to_json(F.struct("doc_id", "text", "lang", "source",
                                 "n_chars"))
    src = docs.select(payload.alias("payload"))
    tgt = (docs.filter(F.col("doc_id") % 3 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 5 == 0,
                              F.concat(F.col("text"), F.lit(" [stale]")))
                       .otherwise(F.col("text")))
           .select(payload.alias("tgt_payload")))
    src_e = src.withColumn(
        "id", F.get_json_object("payload", "$.doc_id").cast("long"))
    tgt_e = tgt.withColumn(
        "id", F.get_json_object("tgt_payload", "$.doc_id").cast("long"))
    joined = src_e.join(tgt_e, "id", "left_outer")
    return (
        joined.withColumn(
            "action",
            F.when(F.col("tgt_payload").isNull(), F.lit("insert"))
            .when(F.col("payload") != F.col("tgt_payload"), F.lit("update"))
            .otherwise(F.lit("skip")))
        .groupBy("action").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("action")
    )


# ---------------------------------------------------------------------------
# A9 — SQL frontend: spark.sql over registered views, incl. correlated
# subqueries (the categories the reference lacks; SURVEY.md §2.2)
# ---------------------------------------------------------------------------

_SQL_EXISTS = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 300000)
"""

_SQL_SCALAR_SUBQ = """
SELECT o_orderkey
FROM orders
WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
"""


@query("sql_exists_high_value_customers", _SQL_EXISTS)
def sql_exists_high_value_customers(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """A9/A1 — the SQL frontend end-to-end: a correlated EXISTS subquery
    run through ``spark.sql`` (Catalyst rewrites it to a left-semi
    join); identical text runs on DuckDB."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_EXISTS)


@query("sql_scalar_subquery_orders", _SQL_SCALAR_SUBQ)
def sql_scalar_subquery_orders(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """A9 — scalar subquery through ``spark.sql`` (broadcast of the
    single-row aggregate); key-only output avoids float formatting."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_SCALAR_SUBQ)


# ---------------------------------------------------------------------------
# O19 — deterministic PII sanitization (oracle-checkable because every
# generator is a sha2-hex manipulation both engines compute identically)
# ---------------------------------------------------------------------------

_D = "translate(substr(sha256({c}),{s},{n}),'abcdef','012345')"


def _d(c: str, s: int, n: int) -> str:
    return _D.format(c=c, s=s, n=n)


@query(
    "sanitize_customer_pii",
    f"""
    SELECT c_custkey,
           'FN_' || substr(sha256(c_name),1,8)
               || ' LN_' || substr(sha256(c_name),9,8)          AS name,
           {_d('c_mktsegment',1,3)} || ' Fake St '
               || substr(sha256(c_mktsegment),4,6)              AS address,
           '+1-' || {_d('c_name',1,3)} || '-' || {_d('c_name',4,3)}
               || '-' || {_d('c_name',7,4)}                     AS phonenumber
    FROM customer
    """,
)
def sanitize_customer_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19 — flat-column sanitization: PII-named columns replaced by
    deterministic fakes seeded from the original value (reference field
    map ``src/sanitizer.py:6-38``; deterministic divergence documented
    in SURVEY.md §7c). The harness table lacks real address/phone
    columns, so existing columns are surfaced UNDER PII names — the
    sanitizer matches on the name, the seed is the column value."""
    from sync_cosmos_db_spark.sanitizer import sanitize_dataframe

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("address"),
        F.col("c_name").alias("phonenumber"),
    )
    return sanitize_dataframe(cust)


@query(
    "sanitize_nested_profile",
    f"""
    SELECT c_custkey,
           {_d('c_mktsegment',1,3)} || '-' || {_d('c_mktsegment',4,2)}
               || '-' || {_d('c_mktsegment',6,4)}               AS ssn,
           'user_' || substr(sha256(c_name),1,10)
               || '@example.com'                                AS email
    FROM customer
    """,
)
def sanitize_nested_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19 — recursion into nested structs (the reference's dict branch,
    ``src/sanitizer.py:46-57``): PII fields inside a struct column are
    matched by name and replaced; the struct is rebuilt type-stable."""
    from sync_cosmos_db_spark.sanitizer import sanitize_dataframe

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.struct(F.col("c_mktsegment").alias("ssn"),
                 F.col("c_name").alias("email")).alias("profile"),
    )
    out = sanitize_dataframe(cust)
    return out.select("c_custkey",
                      F.col("profile.ssn").alias("ssn"),
                      F.col("profile.email").alias("email"))


# The driver's correctness sweep covers the FIRST 50 registered queries
# in dict order.  The surfaced order is explicit (round-1 verdict item
# 1) and ROTATES each round (round-2 verdict item 3) so green evidence
# never goes stale.  Rounds 4-6 each ended with a hand-rolled window
# that was one round behind the registry (the same invariant test red
# three rounds running), so the window is now COMPUTED (round-6 verdict
# item 1) from the on-disk driver reports at registry-build time:
#
#   1. every oracle-bearing query with NO row in any CORRECTNESS_r*.json
#      (the backlog), in registration order — new queries enter the
#      window the moment they are registered, no manual step;
#   2. queries whose LATEST driver row FAILED (fixes re-verified the
#      very next round);
#   3. queries EDITED after their latest driver row (EDITED_ROUND
#      below — pre-edit green evidence is not evidence);
#   4. remaining slots are re-checks, STALEST driver evidence first
#      (lowest last-swept round; registration order breaks ties) — so
#      green rows age out and get re-verified round-robin.
#
# Round-12 window arithmetic: the r11 sweep drained the 4-query
# backlog and 46 of the edited tier; 21 edited queries still carried
# pre-edit rows (16 round-10 fsum-edited with r8/r9 rows + 5
# round-11 let-rewrite with r9/r10 rows), and the round-12
# vectorization of the unblocked embedding baseline and the JW scorer
# re-queued 3 more, so the round-12 window is 24 edited + 26 stalest
# re-checks.  The stale cohort is 36 queries whose latest row is r3 —
# 26 fit, 10 arithmetically carry to round 13 (the verdict's "nothing
# older than r4 after r12" was already one window short given its own
# failed > edited > stalest ordering, which takes precedence; each
# perf rewrite deliberately trades one extra round of recheck latency
# for a measured multi-× sweep-time win with fresh evidence attached).
# Deliberate: an edited query's old green row is WORSE evidence than
# an unedited query's old green row.
#
# Round-13 window arithmetic (verified at build time): 6 edited
# (the two r11-row sampled twins + r12-row embedding containment +
# r3-row linkage_fuzzy + r6-row editdist_pairs + r11-row cusum, all
# re-queued for this round's oracle/operator rewrites) + 44 stalest
# re-checks = all 8 remaining r3 rows, all 35 remaining r4 rows,
# 1 r5 row — the r3/r4 cohorts drain COMPLETELY (r12 verdict
# item 1; the post-r13 histogram's oldest non-window row is r5).
#
# Round-14 window arithmetic (verified at build time): 5 edited
# (linkage_fuzzy / editdist_pairs oracle CASE guards, ADVICE r13;
# canonical_doc_election_sampled Spark-side checkpoint, verdict
# item 2; both curation pipeline queries' CC-output checkpoint) +
# all 43 remaining r5 rows + the 2 oldest r6 rows = 50.  The r5
# cohort drains COMPLETELY (r13 verdict item 1; post-r14 the oldest
# non-window row is r6).
#
# Round-16 window arithmetic (verified at build time): 4 edited
# (both curation pipeline queries — corpus rebuilt via one explode
# pass + cached across the stage-1 consumers, r15 verdict item 3 —
# plus web_pipeline_stats, whose scored frame is now checkpointed once
# and feeds a single conditional aggregate, plus
# fold_temporal_audit_orders' cells checkpoint) + all 36 remaining r7
# rows + the 10 oldest unedited r8 rows = 50.  (The fold audit carries
# an r9 row, so it costs a genuine slot; the pipeline queries carry
# r14/r15 rows.)  The r7 cohort drains COMPLETELY (r15 verdict
# item 1; post-r16 the oldest non-window row is r8 with 30 rows,
# fully drained by r17).
#
# Round-15 window arithmetic (verified at build time): 7 edited
# (both curation pipeline queries — caller-side CC checkpoint wrapper
# removed, verdict item 4 / ADVICE r14 — plus the 5 graph queries
# whose edge construction moved to graph.symmetrize; 2 of the 7 carry
# r7 rows and 1 an r6 row, so they double as stalest re-checks) + the
# 39 remaining r6 rows + the 4 oldest unedited r7 rows = 50.  The r6
# cohort drains COMPLETELY (r14 verdict item 1; post-r15 the oldest
# non-window row is r7).
#
# Rows-only queries (no oracle) never enter the window by construction
# — their exact twins do, and their approximate behavior is pinned by
# pytest.  tests/test_oracle.py still sweeps ALL oracles locally.
SWEEP_WINDOW_SIZE = 50

# Refreshed in place by _refresh_sweep_priority() once the registry is
# fully populated (get_queries / get_oracle_sql call it after the
# registration imports).  A list object, not a recomputed value, so
# existing importers keep seeing the live window.
SWEEP_PRIORITY: list[str] = []

# Queries whose body or oracle SQL was semantically edited in a given
# round (round-10 verdict item 2): a green driver row OLDER than the
# edit round is pre-edit evidence and must be re-verified ahead of the
# ordinary staleness rotation.  Maintained by hand when editing a
# query; `tools/edited_queries.py` lists the queries whose fingerprint
# (code without docstrings or imports, oracle SQL, and the query-module
# helpers and constants it reaches) differs from the last round
# boundary, so a pure move between query modules needs no entry, and
# tests/test_oracle.py::test_edited_queries_registered trips if such a
# query lands without an entry here.  Edits under operators/,
# streaming/ or session.py are not attributed by the tool and still
# need a hand entry.  The round-10 backfill below is
# the tool's output for `git diff c7fdf62..` (the fsum reorder-proof
# sum conversions and TPC-H integer-cent snaps) plus the queries the
# AST tool cannot attribute because their edit lives in a shared
# operator module (operators/cdc.py, operators/profiling.py,
# streaming/stateful.py — the round-10 verdict's named list).
EDITED_ROUND: dict[str, int] = dict.fromkeys("""
abc_parts_revenue agg_cube_status_priority agg_salted_revenue_by_flag
centroid_cosine_labels changepoint_daily_revenue covariate_balance_users
cube_status_priority cusum_daily_revenue did_event_value
effective_rate_revenue events_session_5m events_sliding_1h_30m
events_tumbling_hourly gapfill_daily_order_revenue gini_nation_revenue
hhi_segment_customers incr_agg_orders_merge interp_daily_order_revenue
ivm_orders_priority jackknife_ratio_orders join_broadcast_part_brand
lag_features_daily_revenue max_drawdown_priority_revenue
medoid_lineitem_price minhash_estimate_calibration
pagerank_customer_supplier pagination_buckets_orders
pareto_frontier_customers pv_decomposition_priority q1_pricing_summary
q3_shipping_priority q5_region_revenue q6_forecast_revenue
q7_volume_shipping q9_product_type_profit q10_returned_revenue_by_customer
q11_important_stock q15_top_supplier q17_small_quantity_revenue
q19_disjunctive_revenue q22_dormant_customers recursive_reach_nations
revenue_decile_profile rfm_segment_counts rolling_ols_daily_revenue
rolling_robust_z_revenue rollup_time_hierarchy runtime_filter_orders
scalar_date_trunc_monthly seasonal_index_order_revenue
semi_additive_user_value share_of_parent_nations
stream_cdc_apply_orders stream_cdc_apply_orders_batchmerge
stream_cdc_apply_orders_tws stream_enrich_segment
stream_stateful_user_totals stylometry_delta_sources
target_encode_segments topn_other_suppliers_by_nation
window_range_frame_revenue window_running_revenue
winsorized_price_by_priority
""".split(), 10)

# Round-11 edits (ADVICE items): gini's Σi·x moved from BIGINT to
# DECIMAL(38,0) accumulation, target_encode gained the round_digits>=2
# guard, aggstate.finalize re-rounds total/mean for coarse grids.
EDITED_ROUND.update(dict.fromkeys(
    ["gini_nation_revenue", "target_encode_segments",
     "incr_agg_orders_merge",
     # winnowing rewritten to the two-step gram-materialized form
     # (same output, 32× faster — sf0.1 sweep finding)
     "text_winnowing_fingerprints",
     # let-binding rewrite of word_shingles/_grams/doc_ngrams/
     # chunk_documents (no CSE inside HOF lambdas — O(tokens²)→O(tokens)
     # per doc); every oracle-bearing query flowing through those
     # helpers, directly or via jaccard/minhash/simhash/decontam/
     # repetition/span operators
     "canonical_doc_election", "canonical_doc_election_sampled",
     "chunk_documents_overlap", "curation_pipeline_stats",
     "curation_pipeline_stats_sampled", "decontam_eval_train_overlap",
     "decontam_flagged_evals", "dedup_jaccard_pairs",
     "dedup_lsh_containment", "dedup_lsh_containment_sampled",
     "dedup_simhash_containment", "gopher_repetition_flags",
     "minhash_estimate_calibration", "dedup_components",
     "dedup_span_coverage", "setsim_join_docs"], 11))

# Round-12 edits: embedding_dup_pairs' unblocked n² verification
# baseline vectorized (capped collect + batch matmul mapInPandas,
# replacing the per-pair interpreted HOF nested-loop join; 108.8 s →
# 0.95 s warm at sf0.1, identical rows/hash) — both oracle-bearing
# queries flowing through that path re-queued.
EDITED_ROUND.update(dict.fromkeys(
    ["dedup_embedding_cosine", "dedup_embedding_lsh_containment"], 12))
# ... and jaro_winkler_join's scorer pair-vectorized (_jw_vector, same
# bit-identical float path, 8,000-pair DuckDB parity now a committed
# test) + pair-stream rebalance before scoring (AQE fed 4.5M pairs to
# one task); 76.8 s → 9.5 s at sf0.1.
EDITED_ROUND.update({"jaro_winkler_customers": 12})

# Round-17 edits (the optimization round — every change is
# result-identical and was hash-verified in-round, but the driver
# sweep must still re-row post-edit; OPTIMIZATION_r17.md):
#   * streaming/stateful.py per-key Python-boundary cuts + the slice-
#     write persist in the wrappers — all six streaming forms + the
#     user-totals demo;
#   * profiling.poisson_bootstrap_ci + queries_r9 permutation test +
#     queries_r8 sketch bounds: spread() before compact-scan
#     expansions (+ array quantile forms for the sketch bounds);
#   * setsim_join: int64-id verify with injectivity guard;
#   * graph.bellman_ford: eager edge-cache materialization before the
#     limit(1) probe;
#   * linkage.editdist_join: pair-keyed repartition before the verify;
#   * curation.doc_ngrams spread + global_sort_index /
#     global_token_offsets flattened bucket exprs + spread — every
#     query flowing through those helpers (directly or via
#     roc_auc / feature_screen_auc / equi_depth_histogram /
#     chunk_documents / build_dimension / token_budget_select /
#     quantile_normalize / pack_sequences / zone_map_skip_audit).
EDITED_ROUND.update(dict.fromkeys(
    ["stream_rate_limit_hourly", "stream_rate_limit_hourly_tws",
     "stream_rate_limit_hourly_batchmerge", "stream_cdc_apply_orders",
     "stream_cdc_apply_orders_tws", "stream_stateful_user_totals",
     "bootstrap_ci_order_price", "permutation_test_orders",
     "sketch_profile_bounds", "setsim_join_docs",
     "bellman_ford_trade_distance", "editdist_pairs_customers",
     "decontam_eval_train_overlap", "decontam_flagged_evals",
     "pack_sequences_64", "quantile_normalize_doc_lengths",
     "token_budget_select_documents", "chunk_documents_overlap",
     "equi_depth_orders_price", "roc_auc_orders",
     "feature_screen_orders", "zone_map_audit_lineitem",
     "woe_price_deciles", "gains_table_orders",
     "dimension_orders_priority_status"], 17))
# Round 18 (optimization round 2) — execution paths changed, results
# hash-verified identical (OPTIMIZATION_r18.md):
#   * graph.pagerank: iteration-chain materialized by ONE job (the
#     per-iteration persist+count jobs removed; linear lineage);
#   * the rate-limit stream wrappers: ntile(4) single-partition sort +
#     4 filtered writes → two-phase-rank slicer + one partitioned
#     write (streaming.windows.write_event_time_slices — slice
#     membership bit-identical to ntile, unit-tested);
#   * sinks.zone_map_skip_audit: per-predicate union branches → ONE
#     aggregate per layout evaluating all predicates;
#   * profiling.value_midranks / abc_classification: nested WHEN
#     bucket/prefix chains → the shared flat HOF + element_at (abc's
#     descending chain was additionally cascade-reversed — everything
#     above the 1/64 quantile landed in one window partition; values
#     unchanged, see the operator comment).
#   * setsim_join: tiered verify (≤64-token-vocabulary bitset /
#     int64-id arrays / strings) + guarded-injective xxhash64(sig)
#     long join keys through postings/candidates/verify/expansion
#     (sf0.1 output checksum-identical; cross-tier parity unit test).
EDITED_ROUND.update(dict.fromkeys(
    ["pagerank_customer_supplier", "stream_rate_limit_hourly",
     "stream_rate_limit_hourly_tws", "stream_rate_limit_hourly_batchmerge",
     "zone_map_audit_lineitem", "abc_parts_revenue",
     "kruskal_wallis_priority_price", "cvm_two_sample_arms",
     "ranksum_building_machinery", "setsim_join_docs",
     # spread() before the synth-encoder mapInPandas (the whole Python
     # encode/decode roundtrip ran in ONE task — guide §2.5)
     "multimodal_jpeg_roundtrip", "multimodal_png_roundtrip",
     "multimodal_wav_roundtrip",
     # docstring-only edit (ADVICE r17 wording fix) — execution path
     # identical; registered because the textual-edit tripwire
     # (test_edited_queries_registered) correctly cannot tell a doc
     # edit from a logic edit, and a redundant re-row is the safe side
     "sketch_profile_bounds"], 18))
# Round-18 no-entry decisions: operators/linkage + dedup.spread now
# share the floor_width() helper (ADVICE r17) — the decision and the
# resulting plans are bit-identical (plans/r18/editdist_* diff = expr
# IDs only); curation.global_sort_index/global_token_offsets route
# their bucket expression through the shared _flat_bucket, which IS
# the r17 array-literal HOF expression (a flat-CaseWhen variant was
# measured slower and reverted in-round), so their consumers' plans
# are unchanged from r17.

# spread()/floor_width() moved from operators/dedup to
# operators/partitioning; these three bodies changed only that import
# line.
EDITED_ROUND.update(dict.fromkeys(
    ["dhash_image_clusters", "sketch_profile_bounds",
     "permutation_test_orders"], 19))
# No-entry decision: the six two-phase range scans (global_sort_index,
# global_token_offsets, pps_systematic_sample, value_midranks,
# abc_classification, write_event_time_slices) now share
# partitioning.range_cumsum.  Each consumer keeps its exchanges and
# driver actions (the rank window computes a running sum(1) instead of
# row_number); every consumer was re-verified against its sf0.01
# oracle.
# merge_writeback_roundtrip now builds its new target state with
# migration.merge_target_state before the merge_to_parquet swap.
EDITED_ROUND["merge_writeback_roundtrip"] = 19
# MinHash signatures and LSH band keys now come from one mapInArrow
# kernel (operators/dedup.py); signatures and buckets are bit-identical,
# so the LSH consumers carry no entry.  minhash_estimate_calibration's
# docstring changed with it.
EDITED_ROUND["minhash_estimate_calibration"] = 19
# Moved to queries_streaming onto one oracle, change-log builder and
# result tail per state machine; results bit-identical.
EDITED_ROUND.update(dict.fromkeys(
    ["cdc_apply_orders", "state_asof_orders_seq2", "stream_cdc_apply_orders",
     "stream_cdc_apply_orders_batchmerge", "stream_cdc_apply_orders_tws",
     "rate_limit_hourly", "stream_rate_limit_hourly",
     "stream_rate_limit_hourly_batchmerge", "stream_rate_limit_hourly_tws"],
    19))
# The events-stream queries moved to queries_streaming and read
# events.parquet directly (read_events_stream takes a file path); the
# top-k queries moved to queries_similarity onto one oracle builder and
# one inputs helper.  Results bit-identical.
EDITED_ROUND.update(dict.fromkeys(
    ["stream_stateful_user_totals", "stream_dedup_events",
     "stream_interval_join_attribution", "stream_interval_left_outer",
     "stream_enrich_segment", "stream_ohlc_hourly",
     "sim_topk_bruteforce", "sim_topk_vectorized", "sim_topk_lsh",
     "sim_topk_ivf_fullprobe", "sim_topk_ivf", "sim_topk_ivf_persisted",
     "sim_topk_lsh_fullcollide"], 19))
# The live change-log compaction and the running user totals are now
# state-store aggregates (a min over an order-preserving struct; a
# count and an integer-cents sum), and the TWS compaction step ranks a
# null seq last and a null op first, as collapse_changelog does.
# Results unchanged on the registered feeds.
EDITED_ROUND.update(dict.fromkeys(
    ["stream_cdc_apply_orders", "stream_cdc_apply_orders_tws",
     "stream_stateful_user_totals"], 19))
# The seven fixed-point loops (graph.pagerank, bfs_hops, bellman_ford,
# min_label_propagation, k_core, hits_scores, dedup.connected_components)
# now run on operators/iteration.iterate: one checkpoint per round, each
# freed when the next lands, convergence observed on the checkpoint
# job.  Results bit-identical; these 11 queries reach them.
# Staging directories now come from cache_scope.scoped_tempdir and go
# with release_persisted(); catalog_properties_roundtrip raises instead
# of asserting its database listing.  Results unchanged.
EDITED_ROUND.update(dict.fromkeys("""
curation_pipeline_stats curation_pipeline_stats_sampled kcore_docs
pagerank_customer_supplier dedup_components bfs_3hop_nation1
hits_customer_supplier canonical_doc_election_sampled
bellman_ford_trade_distance canonical_doc_election label_propagation_docs
orc_roundtrip_documents compact_roundtrip_documents
actions_partitioned_counts migration_metrics_summary
jsonl_roundtrip_documents csv_roundtrip_documents
catalog_properties_roundtrip bpe_encode_documents
zorder_roundtrip_documents binaryfile_ingest_documents
partition_pruned_read_en""".split(), 19))

# Round-17 no-entry decisions: graph.py's caller-cache detection fix
# (storageLevel instead of is_cached) changes NOTHING for the
# registered graph queries (no registered caller pre-caches edges), so
# bfs_3hop_nation1 / label_propagation_docs / hits_customer_supplier /
# pagerank_customer_supplier carry no entry; all four were
# hash-re-verified this round anyway.

# Round-12 note (auditable no-entry decision): the ADVICE-r11 JPEG
# decoder hardening (fill-byte skip, multi-scan rejection, 1<<24 dim
# cap in operators/jpeg.py) is NOT query-visible for
# multimodal_jpeg_roundtrip — its inputs are this repo's own encoder
# output (single interleaved scan, no fill padding, tiny synth
# dimensions), the encoder is golden-byte-pinned unchanged, and the
# new code paths only reject input classes that previously decoded as
# garbage or mis-failed.  No EDITED_ROUND entry, per the "changes
# query-visible semantics" rule above.

# Round-13 edits (r12 verdict item 4): the two sampled twins' ORACLE
# closures rewritten from open-ended WITH RECURSIVE transitive closure
# to bounded unrolled min-label rounds with a convergence gate, plus
# MATERIALIZED CTE pins and the gram-inverted-index Jaccard in the
# canonical twin (25.4 s / 15.5 s -> 0.11 s / 0.59 s per oracle at
# sf0.1, rows identical at sf0.01 and sf0.1).  Spark bodies unchanged;
# the oracle IS half the checked contract, so both re-queue.
EDITED_ROUND.update(dict.fromkeys(
    ["canonical_doc_election_sampled",
     "curation_pipeline_stats_sampled"], 13))
# ... and the BLOCKED branch of dedup.embedding_dup_pairs vectorized
# like the r12 unblocked rewrite (HOF per-pair-per-element cosine →
# one float64 rowwise product per Arrow batch, join inputs
# co-partitioned on the block key).  Same summation-order tie caveat,
# so the oracle-bearing query flowing through the blocked branch
# re-queues.  (dedup_embedding_cosine uses only the unblocked branch,
# unchanged this round.)
EDITED_ROUND.update({"dedup_embedding_lsh_containment": 13})
# ... and linkage_fuzzy_customers' oracle rewritten by exact lev<=1
# case decomposition (hamming at equal length + complete
# deletion-neighborhood equality at ±1) after it became the sweep's
# last 180 s timeout — 170 s -> 1.2 s at sf0.1, rows identical at
# sf0.01.  Its latest row is r3, so it was already first in the
# staleness window; the entry just records the edit.
EDITED_ROUND.update({"linkage_fuzzy_customers": 13})
# ... and editdist_pairs_customers' oracle got the same decomposition
# (149 s at sf0.1 — one flake from the sweep cap — now 2.7 s, rows
# identical).  r4 row, so it was already in the staleness window.
EDITED_ROUND.update({"editdist_pairs_customers": 13})
# ... and cusum_daily_revenue's oracle CTEs (s/prm/i) pinned
# MATERIALIZED — its day-step recursion re-evaluated the orders
# aggregation chain every step (22.8 s -> 1.6 s at sf0.1, rows
# identical; the sequential recursion itself is unchanged).
EDITED_ROUND.update({"cusum_daily_revenue": 13})

# Round-14 edits (ADVICE r13): both lev<=1 decomposition oracles'
# WHERE predicates CASE-guarded on length equality — DuckDB
# `mismatches` errors on unequal lengths and the old form relied on
# the planner hash-joining the length-equality ON before the
# predicate ran.  Values identical under today's plan; the guard
# removes the plan dependence, and both re-queue per policy.
EDITED_ROUND.update({"linkage_fuzzy_customers": 14,
                     "editdist_pairs_customers": 14})
# ... and canonical_doc_election_sampled's Spark side checkpoints its
# corpus and pair frames (r13 verdict item 2 — the sweep's two
# driver-style runs re-executed the all-pairs Jaccard join; 27.5 s
# sweep row -> under the 20 s bar).  Lineage-only, rows identical,
# but the query body changed, so it re-queues per policy.
EDITED_ROUND.update({"canonical_doc_election_sampled": 14})
# ... and both curation pipeline queries checkpoint their CC output,
# which feeds three consumers — each otherwise re-executes the
# converged label chain's post-shuffle tails (A/B measured: sampled
# twin 10.5 -> 7.7 s at sf0.1, outputs identical).  Lineage-only, but
# the query bodies changed, so both re-queue per policy.
EDITED_ROUND.update({"curation_pipeline_stats": 14,
                     "curation_pipeline_stats_sampled": 14})

# Round-15 edits (r14 verdict item 4 / ADVICE r14): both curation
# pipeline queries DROP the caller-side scoped_local_checkpoint around
# connected_components — c3db0f9 made CC checkpoint its own output
# internally, so the wrapper localCheckpointed an already-checkpointed
# tiny frame and its justifying comment described the pre-c3db0f9 lazy
# contract.  Plan/lineage-only, rows identical, but the query bodies
# changed, so both re-queue per policy.
EDITED_ROUND.update({"curation_pipeline_stats": 15,
                     "curation_pipeline_stats_sampled": 15})
# ... and the graph queries' edge construction moved from
# union-of-two-selects symmetrization to graph.symmetrize (ONE explode
# pass — the r14 CC pattern; the union executed the lineitem⋈orders /
# documents upstream once per branch), with _doc_edges additionally
# collapsing its 3-way per-target union into one explode (6 documents
# scans → 1 per consumption).  Same rows; plan shape only, but the
# query bodies changed, so all five re-queue per policy.
EDITED_ROUND.update(dict.fromkeys(
    ["pagerank_customer_supplier", "bellman_ford_trade_distance",
     "bfs_3hop_nation1", "label_propagation_docs", "kcore_docs"], 15))

# Round-16 edits (r15 verdict item 3 — single-pass discipline for the
# multi-consumer compositions, each pinned by an accumulator test in
# tests/test_single_pass.py): both curation pipeline queries build
# their planted-dup corpus with ONE explode pass (was a 3-branch union
# = one documents-scan execution per branch per consumption) and cache
# it across the three stage-1 consumers (raw count, exact dedup,
# survivor semi-join — was 3 passes × 3 branches = 9 source scans);
# web_pipeline_stats checkpoints the strip+score frame once and
# collapses n_input/n_quality into one conditional aggregate (was 3
# corpus passes / 2 executions of the regex-heavy chain).  Rows
# identical everywhere (verified driver-style at sf0.01), but the
# query bodies changed, so all three re-queue per policy.
EDITED_ROUND.update({"curation_pipeline_stats": 16,
                     "curation_pipeline_stats_sampled": 16,
                     "web_pipeline_stats": 16})
# ... and fold_temporal_audit_orders, found by the round-16 AST audit
# for the same class: its folds×months cells frame fed FOUR consumers
# and each consumption re-executed the orders scan+aggregate (now one
# checkpoint; accumulator-pinned).  Rows identical; body changed, so
# it re-queues per policy.
EDITED_ROUND.update({"fold_temporal_audit_orders": 16})

# Round-16 notes (auditable no-entry decisions):
#   * streaming/incremental.apply_batch_merge now caches the
#     micro-batch for the merge window — the touched-bucket collect,
#     classify join and untouched anti-join each consumed the batch
#     plan afresh (3 passes per batch; accumulator-pinned in
#     tests/test_single_pass.py).  The target side is deliberately NOT
#     cached (two column-pruned scans beat materializing bucket-sized
#     rows).  Same rows; operator plan shape only, so
#     pagination_buckets_orders does not re-queue (the r14 CC
#     precedent).
#   * operators/graph.py (ADVICE r15): pagerank's persist moved inside
#     its try (leak-on-failure); bfs/bellman/min-label/hits skip the
#     persist/unpersist pair when the caller already cached the edges
#     frame.  Cache lifecycle only — no plan or row change for any
#     registered query (none pre-persist their edges).
#   * operators/ivf.py (ADVICE r15): F.broadcast pinned on the probe
#     side of the cluster join — the planner already chose broadcast
#     at every tested scale, so plans and rows are unchanged; the hint
#     only forecloses a future threshold regression.
#   * decontamination (ngram_contamination) and both foreachBatch
#     batch-merge factories measured ALREADY single-pass — tests
#     added, no fix needed.

# Round-15 notes (auditable no-entry decisions):
#   * operators/graph.py: every iterative operator (pagerank,
#     bfs_hops, bellman_ford, min_label_propagation, hits_scores) now
#     caches its edge relation ONCE at entry and releases it before
#     return; hits_scores additionally checkpoints the converged h/a
#     (the final hub∪authority union executed the whole lazy chain
#     once per branch).  Measured edge-source recompute per input row:
#     bellman 8→1, min-label 8→1, bfs 6→1, pagerank 6→1, k-core (via
#     caller symmetrize) 2→1, hits →1 — pinned by accumulator tests in
#     tests/test_graph.py.  Same rows everywhere; operator plan shape
#     only, so consumers whose bodies did not change
#     (hits_customer_supplier, clustering_coeff_docs) do not re-queue
#     (the r14 CC precedent).

# Round-14 notes (auditable no-entry decisions):
#   * dedup.connected_components now materializes the bidirectional
#     edge relation with ONE explode pass instead of a union of two
#     selects — the union re-executed the upstream (usually expensive
#     pair-join) plan once per branch.  Same rows, same labels; plan
#     shape only, so CC-consuming queries do not re-queue.
#   * ... and its converged labels are eagerly scope-checkpointed
#     before the loop caches release: the result used to be lazy over
#     the whole converged join chain, so every consumption — even one
#     collect — re-executed all iterations against the by-then-
#     unpersisted edge plan (pinned by
#     tests/test_dedup.py::test_connected_components_single_pass_over_edges,
#     which measured 4 passes over the edge source for one collect
#     before the fix).  Output rows identical; all six CC-consuming
#     oracle queries re-verified at sf0.01 this round.
#   * dedup.spread() decides solely on df.rdd.getNumPartitions()
#     (ADVICE r13): the few-files short-circuit would DOWN-partition
#     a scan of few huge splittable files — the 100 TB shape.
#     Partitioning only; no output change at any SF.

# Round-13 notes (auditable no-entry decisions, ADVICE r12 fixes):
#   * dedup.embedding_dup_pairs' unblocked path now drops null/empty
#     vectors up front and early-returns on an empty corpus — both
#     input classes previously CRASHED (AxisError / ragged asarray)
#     and neither exists in the driver corpora (testdata embeddings
#     are dense and non-null), so no query's output changes.
#   * linkage.jaro_winkler_join's pair rebalance gained a floor
#     (max(cores, input-scan splits)) and both block-join inputs are
#     now explicitly co-partitioned on the block key (the sf0.5 run
#     caught the pair-MATERIALIZING join stage AQE-coalesced to one
#     task) — partitioning only; per-pair scores and output rows are
#     bit-identical, re-verified against the sf0.01 oracle.
#   * jpeg MAX_DECODE_PIXELS became a constant + decode parameter with
#     the same 1<<24 default — no behavioral change at the default.
#   * dedup.spread() gained the same floor semantics (a non-file
#     frame no longer repartitions unconditionally — only when
#     measured narrower than the target) — partitioning only.


def _swept_rounds() -> tuple[dict[str, int], dict[str, bool]]:
    """Map query name -> (latest round with a driver CORRECTNESS row,
    whether that LATEST row passed), read from the CORRECTNESS_r*.json
    files at the repo root (the same files the sweep-invariant test
    reads)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    passed: dict[str, bool] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r0*(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if rnd >= latest.get(name, -1):
                latest[name] = max(latest.get(name, 0), rnd)
                ok = (isinstance(row, dict)
                      and bool(row.get("hash_match"))
                      and bool(row.get("rows_match"))
                      and bool(row.get("schema_match"))
                      and not row.get("err"))
                passed[name] = ok
    return latest, passed


def _refresh_sweep_priority() -> None:
    """Recompute the sweep window from the live registry + on-disk
    driver reports: never-swept oracle-bearing queries first (in
    registration order), then queries whose LATEST driver row FAILED
    (a fix must be re-verified the very next round, not after a full
    staleness rotation), then queries EDITED after their latest driver
    row (pre-edit green evidence proves nothing about the new body —
    round-10 verdict item 2), then re-checks stalest-first."""
    swept, passed = _swept_rounds()
    eligible = [n for n in QUERIES if n in ORACLE_SQL]
    backlog = [n for n in eligible if n not in swept]
    failed = sorted((n for n in eligible
                     if n in swept and not passed.get(n, True)),
                    key=lambda n: swept[n])
    # sorted() is stable: ties on the last-swept round keep
    # registration order.  A driver row from round R postdates every
    # round-R edit (the driver sweeps at round end), so a row is
    # pre-edit exactly when its round < EDITED_ROUND[name].
    edited = sorted((n for n in eligible
                     if n in swept and passed.get(n, True)
                     and swept[n] < EDITED_ROUND.get(n, 0)),
                    key=lambda n: swept[n])
    recheck = sorted((n for n in eligible
                      if n in swept and passed.get(n, True)
                      and swept[n] >= EDITED_ROUND.get(n, 0)),
                     key=lambda n: swept[n])
    SWEEP_PRIORITY[:] = (backlog + failed + edited + recheck)[:SWEEP_WINDOW_SIZE]


def _sweep_ordered(mapping: dict) -> dict:
    """Reorder a registry dict: SWEEP_PRIORITY names first (in that
    order), then every remaining name in registration order."""
    _refresh_sweep_priority()
    out = {n: mapping[n] for n in SWEEP_PRIORITY if n in mapping}
    out.update((n, v) for n, v in mapping.items() if n not in out)
    return out


def _register_all() -> None:
    # imported for their registration side effects, in registration order
    from sync_cosmos_db_spark import (  # noqa: F401
        queries_relational, queries_llm, queries_infra, queries_tpch2,
        queries_pipeline, queries_analytics, queries_scale, queries_r4,
        queries_r5, queries_r6, queries_r7, queries_r8, queries_r9,
        queries_r11, queries_streaming, queries_similarity,
    )


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _register_all()
    return _sweep_ordered(QUERIES)


def get_oracle_sql() -> dict[str, str]:
    _register_all()
    return _sweep_ordered(ORACLE_SQL)


@query(
    "json_schema_inference_roundtrip",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def json_schema_inference_roundtrip(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """§1.3 dynamic-schema bridge: pack documents into a JSON payload,
    INFER a typed schema from a bounded sample, parse the full frame
    with it, and project typed columns — which must round-trip exactly
    (the oracle is the identity projection)."""
    from sync_cosmos_db_spark.document_model import (
        infer_payload_schema,
        parse_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("payload"))
    schema = infer_payload_schema(payloads, sample_n=200)
    parsed = parse_payload(payloads, schema)
    return parsed.select(F.col("doc.doc_id").alias("doc_id"),
                         F.col("doc.lang").alias("lang"),
                         F.col("doc.n_chars").alias("n_chars"))
