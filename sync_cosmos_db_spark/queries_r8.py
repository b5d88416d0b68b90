"""Round-8 registrations: invariant twins of the approximate dedup
and sketch families."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table

# ---------------------------------------------------------------------------
# X2 — SimHash containment twin (round-7 verdict item 3): the last
# rows-only dedup family without a hash-checked invariant twin
# (MinHash has dedup_lsh_containment, embedding LSH has
# dedup_embedding_lsh_containment; SimHash had only pytest recall).
# ---------------------------------------------------------------------------

_EXACT_DUP_PAIRS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
SELECT 0 AS n_violations, count(*)::BIGINT AS n_exact_dup_pairs
FROM corpus a JOIN corpus b
  ON a.text = b.text AND a.doc_id < b.doc_id
"""


@query("dedup_simhash_containment", _EXACT_DUP_PAIRS_ORACLE)
def dedup_simhash_containment(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X2 SimHash invariant, hash-checkable: identical text yields an
    identical 64-bit fingerprint, which lands in the same prefix block
    with Hamming distance 0 — so EVERY same-text pair must appear in
    ``simhash_dup_pairs``'s output (``exact_dup_pairs ⊆ simhash_pairs``).
    Returns the violation count (same-text pairs the SimHash pipeline
    missed — must be 0) plus the exact-dup pair count, which DuckDB
    recomputes independently from the mirrored corpus CTE.

    The exact side shuffles 64-hex digests (sha2), never full text; the
    containment check is one equi-join + one aggregate."""
    from sync_cosmos_db_spark.operators import dedup as D
    from sync_cosmos_db_spark.queries_llm import _corpus_with_exact_dups

    corpus = _corpus_with_exact_dups(spark, sf_dir).select("doc_id", "text")
    sims = D.simhash_dup_pairs(corpus, id_col="doc_id", text_col="text",
                               max_hamming=3)
    h = corpus.select("doc_id", F.sha2(F.col("text"), 256).alias("__h"))
    exact = (h.alias("a").join(
        h.alias("b"),
        (F.col("a.__h") == F.col("b.__h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b")))
    found = sims.select("id_a", "id_b").withColumn("__s", F.lit(1))
    j = exact.join(found, ["id_a", "id_b"], "left_outer")
    return j.agg(
        F.sum(F.when(F.col("__s").isNull(), 1).otherwise(0))
        .cast("int").alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_exact_dup_pairs"))


# ---------------------------------------------------------------------------
# X8 — sketch-bounds twin of the rows-only sketch_profile
# ---------------------------------------------------------------------------

_SKETCH_BOUNDS_ORACLE = """
SELECT event_type,
       0 AS n_violations,
       count(DISTINCT user_id)::BIGINT AS n_users_exact,
       count(*)::BIGINT AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("sketch_profile_bounds", _SKETCH_BOUNDS_ORACLE)
def sketch_profile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 sketch invariant, hash-checkable: the approximate sketches of
    ``sketch_profile`` are bounded by their exact twins computed in the
    SAME aggregate —

    * ``approx_count_distinct`` (HLL++, default rsd 5%) within ±15%
      (3 sigma) of the exact distinct count;
    * ``percentile_approx(0.5)`` bracketed by the exact interpolated
      percentiles at 0.40/0.60;
    * ``percentile_approx(0.99)`` between the exact 0.97 percentile and
      the max.

    The invariant relies on the sketch ERROR BOUNDS holding under any
    partial-merge order, not on bit-deterministic sketch values: since
    the r17 ``spread()`` the partitioning (and therefore the
    HLL/QuantileSummaries merge order) depends on the host's
    defaultParallelism, so the sketch values themselves may vary
    between hosts — ``n_violations`` stays 0 because the 3-sigma /
    exact-bracket margins hold for every merge order (ADVICE r17).
    Emits per-group ``n_violations`` (must be
    0 — the oracle hard-codes it) plus the exact distinct count, which
    DuckDB recomputes independently.  One scan, one group-keyed
    aggregate; the exact distinct is itself a second hash shuffle that
    the production profile (``sketch_profile``) deliberately avoids —
    here it IS the point."""
    from sync_cosmos_db_spark.operators.partitioning import spread

    # spread() the projected scan (guide §2.5): the single-split events
    # file otherwise runs the whole percentile/HLL partial aggregation
    # in ONE task (profiled 3.2 s single-task at sf0.1).  Every output
    # column is an EXACT aggregate (the approx sketches only feed the
    # violation flags, whose error bounds hold under any partial-merge
    # order), so the result is unchanged.
    ev = spread(load_table(spark, sf_dir, "events")
                .select("event_type", "user_id", "value"))
    # one QuantileSummaries / one exact-percentile buffer per group
    # instead of five: the array forms build a SINGLE state over the
    # same input sequence and interpolate every requested quantile
    # from it, so the values are bit-identical to the separate
    # aggregates they replace — the per-group buffer work (the
    # dominant cost of this 5-group aggregate) drops ~2x.
    prof = (ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("ad"),
        F.count_distinct("user_id").cast("long").alias("n_users_exact"),
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.99)))
        .alias("__ap"),
        F.percentile("value", F.array(F.lit(0.40), F.lit(0.60),
                                      F.lit(0.97))).alias("__ex"),
        F.max("value").alias("hi99"),
        F.count(F.lit(1)).cast("long").alias("n"))
        .select("event_type", "ad", "n_users_exact", "hi99", "n",
                F.col("__ap")[0].alias("ap50"),
                F.col("__ap")[1].alias("ap99"),
                F.col("__ex")[0].alias("lo50"),
                F.col("__ex")[1].alias("hi50"),
                F.col("__ex")[2].alias("lo99")))
    viol = (
        F.when(F.col("ad") < 0.85 * F.col("n_users_exact"), 1).otherwise(0)
        + F.when(F.col("ad") > 1.15 * F.col("n_users_exact"), 1).otherwise(0)
        + F.when(F.col("ap50") < F.col("lo50"), 1).otherwise(0)
        + F.when(F.col("ap50") > F.col("hi50"), 1).otherwise(0)
        + F.when(F.col("ap99") < F.col("lo99"), 1).otherwise(0)
        + F.when(F.col("ap99") > F.col("hi99"), 1).otherwise(0))
    return (prof.select("event_type",
                        viol.cast("int").alias("n_violations"),
                        "n_users_exact", "n")
            .orderBy("event_type"))
