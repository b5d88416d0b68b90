"""IVF (inverted-file) approximate nearest neighbor over embedding
columns — the k-means-partitioned ANN scale path (X4).

No reference implementation (SURVEY.md §2.3; the reference engine has no
vector surface at all — mandated by BASELINE.json's similarity-search
extension). Complements ``operators/similarity.py``: hyperplane LSH
buckets by random projections, IVF buckets by learned cluster structure,
which probes far fewer candidates at equal recall when the corpus is
clustered (the common case for real embedding corpora).

Shape, and why it survives 100 TB:

* **Train** — spherical k-means (cosine geometry: vectors and centroids
  L2-normalized, assignment by max dot product). Each Lloyd iteration is
  ONE corpus pass emitting per-batch partial sums — at most
  ``n_clusters`` rows per Arrow batch — so the driver reduces
  k × n_batches tiny rows; the corpus itself is never collected,
  shuffled, or broadcast. This is the classic MLlib/Faiss training
  topology. Init is deterministic (k rows with the smallest
  ``xxhash64(id)``), so training is reproducible with no RNG state.
* **Index** — one more corpus pass assigns each vector its cluster id
  (a ``mapInPandas`` matmul against the k × dim centroid matrix shipped
  in the closure — centroids are the ONLY broadcast, a few KB).
* **Probe** — each query emits its ``nprobe`` nearest clusters; the
  candidate join is an equi-join on ``cluster_id``, so the shuffle keys
  are cluster ids, never vector pairs: no n² join, no corpus broadcast,
  candidate volume ≈ corpus × nprobe / n_clusters.

``nprobe = n_clusters`` degenerates to exact brute force regardless of
how training converged — every pair is scored — which is what makes the
full pipeline hash-checkable against the same DuckDB oracle as the
exact path (query ``sim_topk_ivf_fullprobe``); the production
``nprobe < n_clusters`` setting is recall-tested in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.operators.similarity import cosine


def _collect_matrix(rows, vec_idx: int):
    import numpy as np

    return np.asarray([r[vec_idx] for r in rows], dtype=np.float64)


def _normalize(M):
    import numpy as np

    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def train_centroids(
    corpus: DataFrame,
    dim: int,
    n_clusters: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means centroids as a ``n_clusters × dim`` float64
    numpy matrix (L2-normalized rows).

    Deterministic: init = the ``n_clusters`` corpus rows with the
    smallest ``(xxhash64(id), id)`` — no RNG, reproducible anywhere.
    The L2-normalized ``(id, vec)`` projection is materialized ONCE and
    persisted MEMORY_AND_DISK for the whole run (round-3 verdict item
    5): seeding plus all ``iters`` Lloyd passes read the cache, so
    N-iteration training triggers a single source scan instead of N+1.
    Each iteration emits per-batch partial (cluster, sum-vector, count)
    rows; the driver reduction sorts partials before summing so float
    addition order is run-stable. Empty clusters keep their previous
    centroid.
    """
    import numpy as np
    from pyspark import StorageLevel

    id_type = next(f.dataType.simpleString()
                   for f in corpus.schema.fields if f.name == id_col)
    norm_schema = f"{id_col} {id_type}, {vec_col} array<double>"

    def norm_pass(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.asarray(list(pdf[vec_col]), dtype=_np.float64)
            nrm = _np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            Vn = V / nrm
            yield _pd.DataFrame({id_col: pdf[id_col],
                                 vec_col: list(Vn)})

    normed = (corpus.select(id_col, vec_col)
              .mapInPandas(norm_pass, norm_schema)
              .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        seed_rows = (
            normed
            .withColumn("__h", F.xxhash64(F.col(id_col)))
            .orderBy("__h", id_col)
            .limit(n_clusters)
            .collect())
        if len(seed_rows) < n_clusters:
            raise ValueError(
                f"train_centroids: corpus has {len(seed_rows)} rows < "
                f"n_clusters={n_clusters}")
        cents = _normalize(_collect_matrix(seed_rows, 1))

        out_schema = "cluster long, vsum array<double>, cnt long"

        for _ in range(iters):
            C = cents  # bind for closure

            def partials(batches):
                import numpy as _np
                import pandas as _pd

                for pdf in batches:
                    if not len(pdf):
                        continue
                    Vn = _np.asarray(list(pdf[vec_col]), dtype=_np.float64)
                    a = _np.argmax(Vn @ C.T, axis=1)  # ties → lowest cluster
                    rows = {"cluster": [], "vsum": [], "cnt": []}
                    for cl in _np.unique(a):
                        m = a == cl
                        rows["cluster"].append(int(cl))
                        rows["vsum"].append(Vn[m].sum(axis=0).tolist())
                        rows["cnt"].append(int(m.sum()))
                    yield _pd.DataFrame(rows)

            part_rows = normed.mapInPandas(partials, out_schema).collect()
            # run-stable reduction: sort partials by (cluster, count,
            # first component) before accumulating
            part_rows.sort(
                key=lambda r: (r[0], r[2], r[1][0] if r[1] else 0.0))
            sums = np.zeros((n_clusters, dim))
            counts = np.zeros(n_clusters, dtype=np.int64)
            for cl, vsum, cnt in part_rows:
                sums[cl] += np.asarray(vsum)
                counts[cl] += cnt
            new = cents.copy()
            nz = counts > 0
            new[nz] = _normalize(sums[nz] / counts[nz, None])
            cents = new
    finally:
        normed.unpersist()
    return cents


def assign_clusters(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Tag each vector with its nearest centroid (max cosine, ties →
    lowest cluster id). One ``mapInPandas`` matmul pass; the centroid
    matrix rides the closure (k × dim floats — a few KB broadcast)."""
    C = centroids
    out_schema = f"{id_col} long, {vec_col} array<double>, {out_col} long"

    def tag(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.asarray(list(pdf[vec_col]), dtype=_np.float64)
            nrm = _np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            a = _np.argmax((V / nrm) @ C.T, axis=1)
            yield _pd.DataFrame({id_col: pdf[id_col],
                                 vec_col: pdf[vec_col],
                                 out_col: a.astype("int64")})

    return df.select(id_col, vec_col).mapInPandas(tag, out_schema)


def probe_clusters(
    queries: DataFrame,
    centroids,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Explode each query into its ``nprobe`` nearest clusters:
    (query_id, vec, cluster_id) with one row per probed cluster."""
    C = centroids
    k = min(nprobe, C.shape[0])
    out_schema = (f"{query_id_col} long, __qvec array<double>, "
                  "cluster_id long")

    def probe(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.asarray(list(pdf[vec_col]), dtype=_np.float64)
            nrm = _np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            S = (V / nrm) @ C.T
            # top-k clusters per query, ties → lowest cluster id
            order = _np.lexsort(
                (_np.tile(_np.arange(C.shape[0]), (len(V), 1)), -S),
                axis=1)[:, :k]
            rows = {query_id_col: [], "__qvec": [], "cluster_id": []}
            for i in range(len(V)):
                rows[query_id_col].extend([pdf[id_col].iloc[i]] * k)
                rows["__qvec"].extend([pdf[vec_col].iloc[i]] * k)
                rows["cluster_id"].extend(order[i].astype("int64"))
            yield _pd.DataFrame(rows)

    return queries.select(id_col, vec_col).mapInPandas(probe, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate cosine top-k. Train → index → probe → equi-join
    on ``cluster_id`` → score → per-query ranking window.

    Each corpus vector lives in exactly ONE cluster, so a (query,
    neighbor) pair is produced at most once — no post-join dedup needed
    (unlike multi-table LSH). Scores are floor-rounded to 6 decimals
    BEFORE ranking (the repo-wide convention) so summation-order ulps
    can't flip ranks; with ``nprobe == n_clusters`` the output is
    bit-identical to the exact vectorized brute-force path.

    Output schema matches ``brute_force_topk`` for drop-in use:
    (query_id, neighbor_id, rank, cosine_sim rounded 4).
    """
    cents = train_centroids(corpus, dim, n_clusters, iters, id_col, vec_col)
    indexed = assign_clusters(corpus, cents, id_col, vec_col) \
        .withColumnRenamed(id_col, "neighbor_id") \
        .withColumnRenamed(vec_col, "__cvec")
    return _probe_score_rank(indexed, queries, cents, k, nprobe,
                             id_col, vec_col, query_id_col)


def _probe_score_rank(indexed: DataFrame, queries: DataFrame, cents,
                      k: int, nprobe: int, id_col: str, vec_col: str,
                      query_id_col: str) -> DataFrame:
    """Shared probe → cluster equi-join → score → rank tail for both
    the train-in-place and the load-from-index paths.  ``indexed``
    carries (neighbor_id, __cvec, cluster_id)."""
    probes = probe_clusters(queries, cents, nprobe, id_col, vec_col,
                            query_id_col)
    # Scoring parallelism = the STREAM side's partitioning: probes are
    # broadcast, so the einsum mapInPandas below inherits the indexed
    # corpus's split count — and a compact corpus (one parquet file at
    # bench scale; any narrow upstream) collapsed the entire candidate
    # scoring to 1-2 tasks (round-15 octave finding: fullprobe 176 s
    # vs 49 s for the SAME logical work served from the 8-way
    # hive-partitioned index — the index's file layout was accidentally
    # providing the parallelism).  spread() is floor-only: the shuffle
    # moves corpus rows (tiny next to the pair volume it parallelizes)
    # and is a no-op at 100 TB where the scan is already wide.
    from sync_cosmos_db_spark.operators.partitioning import spread

    # F.broadcast pins the assumption spread() relies on (ADVICE r15):
    # if probes ever exceeded the auto-broadcast threshold (large query
    # batch, threshold change) the planner would hash-exchange the
    # corpus on cluster_id right after the round-robin exchange,
    # turning spread into a wasted full shuffle.  Probe volume is
    # queries × nprobe — small by construction for an ANN serve path.
    cand = (spread(indexed).join(F.broadcast(probes), "cluster_id")
            .filter(F.col(query_id_col) != F.col("neighbor_id"))
            .select(query_id_col, "neighbor_id", "__qvec", "__cvec"))

    # Round-8 rewrite (round-7 verdict item 6): the HOF cosine
    # (aggregate ∘ zip_with) is CodegenFallback — interpreted per array
    # element — and was ~70% of the fullprobe runtime.  Score each
    # Arrow batch of joined candidates with one numpy einsum instead
    # (same floor-1e6-before-rank convention as
    # similarity.brute_force_topk_vectorized) and keep only the LOCAL
    # top-k per query per batch: the global top-k under
    # (score desc, id asc) is the merge of per-batch top-k under that
    # order, so the ranking window reads ≤ k·batches rows per query
    # instead of every candidate pair.
    out_schema = f"{query_id_col} long, neighbor_id long, __cs double"

    def score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = _np.asarray(list(pdf["__qvec"]), dtype=_np.float64)
            Cv = _np.asarray(list(pdf["__cvec"]), dtype=_np.float64)
            qn = _np.linalg.norm(Q, axis=1)
            qn[qn == 0] = 1.0
            cn = _np.linalg.norm(Cv, axis=1)
            cn[cn == 0] = 1.0
            s = _np.einsum("ij,ij->i", Q, Cv) / (qn * cn)
            s = _np.floor(s * 1e6 + 0.5) / 1e6
            df = _pd.DataFrame({
                query_id_col: pdf[query_id_col].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "__cs": s})
            yield (df.sort_values([query_id_col, "__cs", "neighbor_id"],
                                  ascending=[True, False, True])
                   .groupby(query_id_col, sort=False).head(k))

    scored = cand.mapInPandas(score, out_schema)
    w = W.partitionBy(query_id_col).orderBy(F.desc("__cs"),
                                            F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank",
                (F.floor(F.col("__cs") * 10000 + F.lit(0.5)) / 10000)
                .alias("cosine_sim"))
    )


def save_index(corpus: DataFrame, centroids, path: str,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> None:
    """Persist a trained IVF index: ``path/centroids`` (k rows) and
    ``path/assignments`` — the cluster-tagged corpus, hive-partitioned
    by ``cluster_id`` so a later probe's equi-join PRUNES partitions
    (with nprobe < k, untouched clusters' files are never read — the
    on-disk analog of Faiss's inverted lists).  Train once, probe from
    many jobs: the retrain-per-query cost disappears and the index is
    a plain parquet layout any engine can inspect."""
    spark = corpus.sparkSession
    cent_rows = [(i, centroids[i].tolist())
                 for i in range(centroids.shape[0])]
    (spark.createDataFrame(cent_rows,
                           "cluster_id long, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))
    (assign_clusters(corpus, centroids, id_col, vec_col)
     .write.mode("overwrite").partitionBy("cluster_id")
     .parquet(f"{path}/assignments"))


def load_index(spark, path: str, id_col: str = "vec_id",
               vec_col: str = "embedding"):
    """Load a saved IVF index → (centroid matrix, assignments frame).
    Only the k×dim centroid table is collected; assignments stay a
    lazy partitioned scan."""
    import numpy as np

    cent = (spark.read.parquet(f"{path}/centroids")
            .orderBy("cluster_id").collect())
    C = np.asarray([r.centroid for r in cent], dtype=np.float64)
    assignments = spark.read.parquet(f"{path}/assignments")
    return C, assignments


def ivf_topk_from_index(spark, path: str, queries: DataFrame,
                        k: int = 10, nprobe: int = 4,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        query_id_col: str = "query_id") -> DataFrame:
    """IVF top-k served from a persisted index — identical contract to
    :func:`ivf_topk` but with zero training scans; the probe equi-join
    on the hive partition column prunes unprobed clusters at the file
    level."""
    C, assignments = load_index(spark, path, id_col, vec_col)
    indexed = (assignments
               .withColumnRenamed(id_col, "neighbor_id")
               .withColumnRenamed(vec_col, "__cvec"))
    return _probe_score_rank(indexed, queries, C, k, nprobe,
                             id_col, vec_col, query_id_col)
