"""Graph algorithms on DataFrames: PageRank, BFS, Bellman–Ford,
label propagation, k-core peeling and HITS by fixed-point iteration,
plus one-pass triangle and clustering-coefficient counts.

The reference has no graph surface; these are extension operators
(training-data pipelines rank hosts / domains / documents by link
authority — the original web-scale use).

Scale design — Pregel as joins, no GraphX/RDDs:

* Edges live in a ``(src, dst[, w])`` DataFrame.  Each round is a few
  equi-joins and aggregates keyed on node ids, so every shuffle
  hash-partitions on nodes; nothing is broadcast but scalars.
* **One loop.**  Every iterative operator is a ``step`` function plus
  a call to :func:`~sync_cosmos_db_spark.operators.iteration.iterate`,
  which owns the lineage rule (a scope-registered ``localCheckpoint``
  after every round, each freed when the next lands) and convergence
  (an observed aggregate read off the checkpoint job).  Each returns the driver's eager checkpoint, or a
  cheap projection of it: safe for any number of consumers without
  caller-side persistence, but gone after
  ``cache_scope.release_persisted()`` — consume it first.
* **One edge cache.**  The edge list is read every round, and the
  callers' edge plans are lineitem⋈orders aggregations or document
  explodes, so each operator reads its edges inside
  ``cache_scope.cached``: computed once per call, released on return,
  and left alone when the caller already cached the same plan.
  k-core needs none: its state IS the edge set, so only its first
  round reads the input.

PageRank's dangling mass (nodes with no OUT-edges) leaks, the simple
formulation: for ranking it only rescales, redistribution would cost
a global aggregate per round, and the oracle (an unrolled SQL replay)
must stay bit-comparable.  Callers who need the stochastic-matrix
invariant should add self-loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import cached, scoped_local_checkpoint
from sync_cosmos_db_spark.operators.iteration import iterate


def symmetrize(edges: DataFrame, src: str = "src",
               dst: str = "dst") -> DataFrame:
    """Both edge directions in ONE pass over the input.

    ``raw.select(src,dst).unionByName(raw.select(dst,src))`` executes
    the upstream edge plan once per branch; for the registered graph
    queries that upstream is a lineitem⋈orders aggregation, so the
    dominant stage would run twice before the loop starts.  Explode
    duplicates each row AFTER it is computed.  Non-src/dst columns
    (weights) ride along unchanged on both directions.
    """
    rest = [c for c in edges.columns if c not in (src, dst)]
    return (edges
            .select(F.explode(F.array(
                F.struct(F.col(src).alias(src), F.col(dst).alias(dst),
                         *[F.col(c).alias(c) for c in rest]),
                F.struct(F.col(dst).alias(src), F.col(src).alias(dst),
                         *[F.col(c).alias(c) for c in rest]),
            )).alias("__e"))
            .select("__e.*"))


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Fixed-iteration weighted PageRank over an edge DataFrame.

    Edge weights are transition probabilities after out-weight
    normalization: contribution(src→dst) = pr(src) · w / Σ_out w(src).
    Each round is ONE src-keyed join of the rank vector onto the edge
    list and ONE dst-keyed sum, left-joined onto the node set, so a
    node with no in-edges keeps the teleport term ``(1−d)/N``.  ``n_iter`` is a fixed budget: at corpus scale you run
    10–20 rounds, and a convergence test would add a global delta
    aggregate per round for little benefit.

    Returns ``(node, pr)`` (unrounded doubles — round at the query
    surface) as the iteration driver's eager checkpoint.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    # e is read every round and nodes is read every round: both are
    # cached, and both come from ONE read of the caller's edge plan
    # (the out-weight sum is a window, not a join back onto the edges).
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"),
                     (F.col(weight) / F.sum(weight).over(
                         Window.partitionBy(src))).alias("__share"))
    with cached(e) as e:
        # N comes off the pass that fills the node cache.
        size = Observation()
        nodes = (e.select(F.explode(F.array("__src", "__dst")).alias("node"))
                 .distinct().observe(size, F.count(F.lit(1)).alias("n")))
        with cached(nodes) as nodes:
            n_nodes = size.get["n"]
            teleport = (1.0 - damping) / n_nodes

            def step(pr: DataFrame, _r: int) -> DataFrame:
                contrib = (e.join(pr.withColumnRenamed("node", "__src"),
                                  "__src")
                           .groupBy(F.col("__dst").alias("node"))
                           .agg(F.sum(F.col("pr") * F.col("__share"))
                                .alias("__c")))
                return (nodes.join(contrib, "node", "left")
                        .select("node",
                                (F.lit(teleport)
                                 + damping * F.coalesce(F.col("__c"),
                                                        F.lit(0.0)))
                                .alias("pr")))

            pr, _ = iterate(nodes.withColumn("pr", F.lit(1.0 / n_nodes)),
                            step, n_iter)
    return pr


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle count plus per-node participation over an
    UNDIRECTED simple graph given as (src, dst) pairs (either or both
    orientations; duplicates and self-loops are dropped here).

    The join-ordering trick that keeps this feasible at scale: orient
    every edge low→high (canonical form, deduped), then count, for
    each canonical edge (a,b), the nodes c adjacent to both — one
    self-join of the oriented edge list on its low endpoint to
    enumerate wedges (a<b, a<c), then one semi-join-shaped inner join
    probing whether the closing edge (min(b,c), max(b,c)) exists.
    Every shuffle keys on node ids or canonical edges; orientation
    bounds wedge enumeration by Σ_v deg_lo(v)² where deg_lo counts
    only HIGHER-id neighbors — the classic compact-forward bound that
    keeps hub nodes from exploding the wedge set (a hub's wedges are
    counted from its low-degree neighbors' side).

    Returns a 1-row DataFrame ``(n_triangles,)``; each triangle is
    counted exactly once.
    """
    _, tri = _triangles(edges, src, dst)
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


def _triangles(edges: DataFrame, src: str,
               dst: str) -> tuple[DataFrame, DataFrame]:
    """``(e, tri)``: the canonical ``(lo, hi)`` simple edge set and one
    ``(b, c, a)`` row per triangle, by the compact-forward wedge
    enumeration :func:`triangle_count` describes."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("lo"),
                      F.greatest(F.col(src), F.col(dst)).alias("hi"))
         .where(F.col("lo") != F.col("hi"))
         .distinct())
    # wedges centered on the LOW node: a < b, a < c, b < c
    b_side = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    c_side = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = (b_side.join(c_side, "a")
              .where(F.col("b") < F.col("c")))
    closing = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    return e, wedges.join(closing, ["b", "c"])


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 3,
             src: str = "src", dst: str = "dst",
             node_col: str = "node") -> DataFrame:
    """Bounded-depth BFS: minimum hop count from a SEED SET to every
    node reachable within ``max_hops`` — the blast-radius /
    influence-frontier query (which suppliers are within two trades of
    a sanctioned customer set).

    ``edges`` must already contain both directions for undirected
    traversal.  The state is the visited set ``(node, hops)``; hop
    ``h``'s frontier is its ``hops == h − 1`` rows.  Per hop ONE edge
    join on the frontier + ONE anti-join against the visited set, both
    keyed on node ids; the frontier holds only never-seen nodes, so
    total work is bounded by |reachable| · deg regardless of
    ``max_hops``.  The loop stops once a hop reaches nobody.  Returns
    ``(node, hops)``.
    """
    if max_hops < 0:
        raise ValueError(f"bfs_hops: max_hops must be >= 0, got {max_hops}")

    def step(visited: DataFrame, h: int) -> DataFrame:
        frontier = visited.where(F.col("hops") == h - 1)
        reached = (frontier.join(edges, frontier["node"] == edges[src])
                   .select(F.col(dst).alias("node")).distinct()
                   .join(visited.select("node"), "node", "left_anti")
                   .withColumn("hops", F.lit(h).cast("long")))
        return visited.unionByName(reached)

    with cached(edges) as edges:
        visited, _ = iterate(
            seeds.select(F.col(node_col).alias("node")).distinct()
            .withColumn("hops", F.lit(0).cast("long")),
            step, max_hops,
            until=lambda h: F.count_if(F.col("hops") == h))
    return visited


def bellman_ford(edges: DataFrame, seeds: DataFrame, rounds: int = 3,
                 src: str = "src", dst: str = "dst", weight: str = "w",
                 node_col: str = "node") -> DataFrame:
    """Bounded-round Bellman–Ford: minimum path COST from a seed set
    using at most ``rounds`` edges — the weighted sibling of
    :func:`bfs_hops` (cheapest route, not fewest hops).

    Each round is one relax step: dist' = min(dist, min over incoming
    edges of dist[src] + w) — ONE src-keyed join + ONE dst-keyed min
    aggregate + ONE full-outer min merge, all node-keyed; after k
    rounds every ≤k-edge shortest path is exact (the textbook
    invariant), so ``rounds`` is the path-length budget, not an
    approximation knob.  Each round reads the previous ``dist`` twice.
    Negative edges are rejected (min-merge with a bounded horizon is
    only meaningful for non-negative costs): one aggregate counts them
    before the first round, and being a full scan it also fills the
    edge cache.  Returns ``(node, cost)``."""
    if rounds < 0:
        raise ValueError(f"bellman_ford: rounds must be >= 0, got {rounds}")

    def step(dist: DataFrame, _r: int) -> DataFrame:
        relaxed = (dist.join(edges, dist["node"] == edges[src])
                   .select(F.col(dst).alias("node"),
                           (F.col("cost") + F.col(weight)).alias("cand"))
                   .groupBy("node")
                   .agg(F.min("cand").alias("cand")))
        return (dist.join(relaxed, "node", "full_outer")
                .select("node",
                        F.least(F.coalesce("cost", F.lit(2 ** 62)),
                                F.coalesce("cand", F.lit(2 ** 62)))
                        .cast("long").alias("cost")))

    with cached(edges) as edges:
        if edges.agg(F.count_if(F.col(weight) < 0)).first()[0] > 0:
            raise ValueError(
                "bellman_ford: negative edge weights are not supported — "
                "the bounded-round min-merge assumes non-negative costs")
        dist, _ = iterate(
            seeds.select(F.col(node_col).alias("node")).distinct()
            .withColumn("cost", F.lit(0).cast("long")),
            step, rounds)
    return dist


def clustering_coefficient(edges: DataFrame, src: str = "src",
                           dst: str = "dst",
                           round_digits: int = 6) -> DataFrame:
    """X125 — local clustering coefficient per node over an UNDIRECTED
    simple graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the fraction
    of a node's neighbor pairs that are themselves connected — the
    community-tightness / spam-farm detector that degree and PageRank
    both miss.

    Triangles come from the same compact-forward wedge enumeration as
    :func:`triangle_count` (canonical lo→hi orientation, wedges from
    the low endpoint, closing-edge probe) — the orientation bounds
    hub wedge fan-out; each found triangle then credits its THREE
    nodes via one bounded in-row explode.  Degree is one node-keyed
    count over the deduped edge list.  All shuffles key on node ids
    or canonical edges.  Returns ``(node, degree, n_tri, cc)`` for
    every node with degree ≥ 2 (cc undefined below)."""
    e, tri = _triangles(edges, src, dst)
    deg = (e.select(F.col("lo").alias("node"))
           .unionAll(e.select(F.col("hi").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("degree")))
    tri_nodes = (tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
                 .groupBy("node")
                 .agg(F.count("*").cast("long").alias("n_tri")))
    p = 10 ** round_digits
    return (deg.filter(F.col("degree") >= 2)
            .join(tri_nodes, "node", "left")
            .select("node", "degree",
                    F.coalesce("n_tri", F.lit(0)).cast("long")
                    .alias("n_tri"),
                    (F.floor(F.coalesce("n_tri", F.lit(0)) * 2.0
                             / (F.col("degree")
                                * (F.col("degree") - 1)) * p
                             + F.lit(0.5)) / p).alias("cc")))


def min_label_propagation(edges: DataFrame, rounds: int = 3,
                          src: str = "src",
                          dst: str = "dst") -> DataFrame:
    """Bounded-round minimum-label propagation: every node starts
    labeled with its own id; each round takes the min of its own label
    and its in-neighbors' labels.  After k rounds a node's label is
    exactly the minimum node id within k hops — community seeds on a
    bounded horizon, and the building block of
    connected-components-by-doubling.

    Per round: ONE src-keyed join (labels onto edges) + ONE dst-keyed
    min + ONE node-keyed min merge — all equi-joins.  Returns
    ``(node, label)``."""
    if rounds < 0:
        raise ValueError(f"min_label_propagation: rounds must be >= 0, "
                         f"got {rounds}")

    def step(labels: DataFrame, _r: int) -> DataFrame:
        incoming = (labels.join(edges, labels["node"] == edges[src])
                    .groupBy(F.col(dst).alias("node"))
                    .agg(F.min("label").alias("in_label")))
        return (labels.join(incoming, "node", "left")
                .select("node",
                        F.least(F.col("label"),
                                F.coalesce("in_label", F.col("label")))
                        .alias("label")))

    with cached(edges) as edges:
        nodes = (edges.select(F.explode(F.array(src, dst)).alias("node"))
                 .distinct())
        labels, _ = iterate(nodes.withColumn("label", F.col("node")),
                            step, rounds)
    return labels


def k_core(edges: DataFrame, k: int = 3, rounds: int = 3,
           src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded-round k-core peeling: iteratively drop nodes with
    degree < k (recomputing degrees in the induced subgraph),
    ``rounds`` times — the dense-cohesion filter that separates a
    genuinely interlinked community from a star around one hub
    (remove the hub's pendants and the star evaporates; a true core
    survives).  ``edges`` must contain both directions.

    Per round: ONE node-keyed degree count + TWO semi-joins filtering
    the edge set, which shrinks monotonically.  A fixed round budget
    makes the result exact for "survives r peels", the monotone
    approximation of the true core from above.  Returns
    ``(node, degree)`` for surviving nodes with their final induced
    degree."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")

    def step(e: DataFrame, _r: int) -> DataFrame:
        keep = (e.groupBy(F.col("s").alias("node"))
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k).select("node"))
        return (e.join(keep.withColumnRenamed("node", "s"), "s",
                       "left_semi")
                .join(keep.withColumnRenamed("node", "d"), "d",
                      "left_semi"))

    simple = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
              .filter(F.col("s") != F.col("d")).distinct())
    core, _ = iterate(simple, step, rounds)
    return (core.groupBy(F.col("s").alias("node"))
            .agg(F.count("*").cast("long").alias("degree")))


def hits_scores(edges: DataFrame, src_col: str = "src",
                dst_col: str = "dst", weight_col: str = "w",
                iters: int = 3,
                round_digits: int = 9) -> DataFrame:
    """HITS hubs & authorities on a weighted DIRECTED edge list: hubs
    point at good authorities, authorities are pointed at by good hubs
    — the mutually-reinforcing fixpoint Kleinberg defined, and a
    genuinely different ranking from :func:`pagerank` (no teleport, no
    out-degree division; a node's hub score and authority score are
    separate numbers).

    With ``A(h)`` = Σ w·h over in-edges and ``H(a)`` = Σ w·a over
    out-edges, the state is the hub vector: ``h₁ = H(1)``, then
    ``h ← H(A(h))``; the authorities ``a = A(h)`` are derived once from
    the final ``h``.  Each is one edge-keyed join + aggregate.
    Normalization is deferred to the END: unnormalized power iteration
    is a scalar multiple of the normalized one, so dividing once by
    the final L1 mass gives the same scores while avoiding two
    per-round global reductions; over ``iters`` rounds the raw values
    grow only like (weighted degree)^iters, far inside double range.
    The final 1-row totals join on a derived constant key
    (BroadcastHashJoin).  Returns ``(kind 'hub'|'authority', node,
    score)`` over the eager checkpoints of ``h`` and ``a``.
    """
    if iters < 1:
        raise ValueError(f"hits_scores: iters must be >= 1, got {iters}")
    e = edges.select(F.col(src_col).alias("s"),
                     F.col(dst_col).alias("d"),
                     F.col(weight_col).cast("double").alias("w"))

    def hubs(a: DataFrame) -> DataFrame:
        return (e.join(a.withColumnRenamed("node", "d"), "d")
                .groupBy(F.col("s").alias("node"))
                .agg(F.sum(F.col("w") * F.col("a")).alias("h")))

    def authorities(h: DataFrame) -> DataFrame:
        return (e.join(h.withColumnRenamed("node", "s"), "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum(F.col("w") * F.col("h")).alias("a")))

    with cached(e) as e:
        a0 = (e.select(F.col("d").alias("node")).distinct()
              .withColumn("a", F.lit(1.0)))
        h, _ = iterate(hubs(a0), lambda h, _r: hubs(authorities(h)),
                       iters - 1)
        a = scoped_local_checkpoint(authorities(h))
    p = 10 ** round_digits
    ht = (h.agg(F.sum("h").alias("t"))
          .withColumn("__k", F.floor(F.col("t") * 0)))
    at = (a.agg(F.sum("a").alias("t"))
          .withColumn("__k", F.floor(F.col("t") * 0)))
    hn = (h.withColumn("__k", F.floor(F.col("h") * 0))
          .join(F.broadcast(ht), "__k")
          .select(F.lit("hub").alias("kind"), "node",
                  (F.floor(F.col("h") / F.col("t") * p + F.lit(0.5))
                   / p).alias("score")))
    an = (a.withColumn("__k", F.floor(F.col("a") * 0))
          .join(F.broadcast(at), "__k")
          .select(F.lit("authority").alias("kind"), "node",
                  (F.floor(F.col("a") / F.col("t") * p + F.lit(0.5))
                   / p).alias("score")))
    return hn.unionByName(an)
