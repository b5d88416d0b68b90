"""Similarity-domain queries: the top-3 cosine neighbours of every query
vector (every 50th embedding) over the whole ``embeddings`` corpus.

Every pipeline answers to one exact answer, :func:`_exact_topk_oracle`.
The exact pipelines (brute force, X3; one BLAS matmul per Arrow batch,
X4) are checked against it directly.  The approximate pipelines (X4
random-hyperplane LSH and IVF, X65 IVF served from a saved index) are
checked against it in a setting where they must score every pair: LSH
with no hyperplanes, IVF probing every cluster.  There the hash check
verifies their plumbing (bucket and cluster joins, candidate dedup,
index save and load) and leaves only the approximation itself to the
recall tests.  Their production settings (``sim_topk_lsh``,
``sim_topk_ivf``) carry no oracle; recall against the exact path is
asserted in tests/test_similarity.py and tests/test_ivf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_tempdir
from sync_cosmos_db_spark.operators import ivf as IVF
from sync_cosmos_db_spark.operators import similarity as S
from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


def _exact_topk_oracle(pre_round: bool = True) -> str:
    """The exact top-3 neighbours (ties broken by neighbour id) of every
    ``vec_id % 50 = 0`` query vector, itself excluded, with the cosine
    rounded to 4 decimals.  ``pre_round`` ranks on the cosine rounded to
    6 decimals, as every pipeline but brute force does, so
    summation-order ulps between the engines cannot flip a rank."""
    cs = "list_cosine_similarity(q.qv, c.embedding::DOUBLE[])"
    if pre_round:
        cs = f"floor(({cs}) * 1000000 + 0.5) / 1000000"
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {cs} AS cs
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rank,
             floor((cs) * 10000 + 0.5) / 10000 AS cosine_sim
      FROM scored)
    SELECT query_id, neighbor_id, rank, cosine_sim FROM ranked WHERE rank <= 3
    """


_TOPK_ORACLE = _exact_topk_oracle()


def _corpus_and_queries(spark: SparkSession,
                        sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(corpus, query vectors)``: the embeddings and the oracle's
    ``vec_id % 50 = 0`` subset of them."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") % 50 == 0)


@query("sim_topk_bruteforce", _exact_topk_oracle(pre_round=False))
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4 exact ANN baseline: brute-force cosine top-3 for every
    query vector. Corpus scanned once, queries broadcast, ranking
    window per query."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    return S.brute_force_topk(emb, queries, k=3)


@query("sim_topk_vectorized", _TOPK_ORACLE)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4 hot path: the same exact top-3 as sim_topk_bruteforce but
    scored with one BLAS matmul per Arrow batch (mapInPandas) and a
    per-partition local top-k before the global ranking window — the
    shuffle carries k·partitions rows per query, not the corpus."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    return S.brute_force_topk_vectorized(emb, queries, k=3)


@query("sim_topk_lsh")  # approx — rows-only check; recall tested in pytest
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 scale path: seeded random-hyperplane LSH (4 tables × 10 bits),
    scoring only bucket-collided pairs."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    return S.lsh_topk(emb, queries, dim=64, k=3, n_planes=10, n_tables=4)


@query("sim_topk_ivf_fullprobe", _TOPK_ORACLE)
def sim_topk_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 IVF pipeline: spherical-k-means train (deterministic xxhash64
    init), cluster assignment, probe, equi-join on cluster_id, score,
    rank — with ``nprobe == n_clusters`` every pair is scored, so the
    result must be BIT-IDENTICAL to the exact answer no matter how
    training converged: no pair lost or duplicated by the cluster
    join."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    return IVF.ivf_topk(emb, queries, dim=64, k=3, n_clusters=8,
                        nprobe=8, iters=3)


@query("sim_topk_ivf")  # approx — rows-only check; recall tested in pytest
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 IVF production setting: probe the 4 nearest of 16 learned
    clusters per query — candidate volume ≈ corpus/4, shuffled on
    cluster_id only."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    return IVF.ivf_topk(emb, queries, dim=64, k=3, n_clusters=16,
                        nprobe=4, iters=3)


@query("sim_topk_ivf_persisted", _TOPK_ORACLE)
def sim_topk_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65 — IVF index persistence round trip: train → save (centroids
    + hive-partitioned assignments) → LOAD → full probe.  With
    nprobe == n_clusters the served result must equal the exact answer,
    so the hash check proves the save/load path loses and duplicates
    nothing; the partitioned layout is what lets nprobe < k prune
    unread clusters at the file level in production."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    cents = IVF.train_centroids(emb, dim=64, n_clusters=8, iters=3)
    path = scoped_tempdir("ivf_index_")
    IVF.save_index(emb, cents, path)
    return IVF.ivf_topk_from_index(spark, path, queries, k=3, nprobe=8)


@query("sim_topk_lsh_fullcollide", _TOPK_ORACLE)
def sim_topk_lsh_fullcollide(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X4 LSH plumbing: with ``n_planes=0`` every vector lands in
    bucket 0, the candidate join degenerates to ALL pairs, and the
    approximate pipeline must return EXACTLY the exact top-3.
    What this pins is the bucket explode, the (table, bucket)
    equi-join, candidate dedup and the pre-rounded ranking, leaving
    only the hyperplane hashing itself to the recall checks on
    ``sim_topk_lsh``."""
    emb, queries = _corpus_and_queries(spark, sf_dir)
    return S.lsh_topk(emb, queries, dim=64, k=3, n_planes=0, n_tables=1)
