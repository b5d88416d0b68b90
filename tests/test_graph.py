"""PageRank (operators/graph.py): invariants on small graphs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sync_cosmos_db_spark.operators.graph import pagerank


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w double")


def test_uniform_cycle_stays_uniform(spark):
    # 3-cycle with equal weights: the stationary distribution is uniform,
    # and every iteration preserves it exactly.
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)])
    pr = {r.node: r.pr for r in pagerank(e, n_iter=5).collect()}
    for v in pr.values():
        assert v == pytest.approx(1 / 3, abs=1e-12)


def test_mass_conserved_without_dangling(spark):
    # every node has out-edges → total rank mass stays 1.
    e = _edges(spark, [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 3.0),
                       (3, 1, 2.0), (3, 2, 1.0)])
    pr = pagerank(e, n_iter=4)
    total = pr.agg(F.sum("pr")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_authority_ordering(spark):
    # star graph: everything points at hub 1 (and back, so no dangling);
    # the hub must outrank every leaf.
    rows = []
    for leaf in (2, 3, 4, 5):
        rows += [(leaf, 1, 1.0), (1, leaf, 1.0)]
    pr = {r.node: r.pr
          for r in pagerank(_edges(spark, rows), n_iter=6).collect()}
    hub = pr.pop(1)
    assert all(hub > v for v in pr.values())


def test_weights_shift_rank(spark):
    # 1 sends 9x more weight to 2 than to 3 (with return edges so the
    # chain mixes): 2 must outrank 3.
    e = _edges(spark, [(1, 2, 9.0), (1, 3, 1.0),
                       (2, 1, 1.0), (3, 1, 1.0)])
    pr = {r.node: r.pr for r in pagerank(e, n_iter=8).collect()}
    assert pr[2] > pr[3]


def test_isolated_receiver_gets_teleport_only(spark):
    # node 3 has an in-edge but its only "activity" is inbound; node 4
    # appears only as a dst of a zero-contribution path — here: 3 has no
    # out-edges (dangling), so its rank leaks but others still get the
    # teleport floor.
    e = _edges(spark, [(1, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)])
    pr = {r.node: r.pr for r in pagerank(e, n_iter=3).collect()}
    teleport = (1 - 0.85) / 3
    assert all(v >= teleport - 1e-12 for v in pr.values())


def test_no_lingering_cache(spark):
    # every INTERMEDIATE cache (nodes, normalized edges, per-iteration
    # rank vectors) is released inside pagerank; only the documented
    # result checkpoint remains, and releasing the scope returns the
    # session to its prior cache census.
    from sync_cosmos_db_spark.cache_scope import release_persisted

    release_persisted(blocking=True)  # earlier tests' results
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    e = _edges(spark, [(1, 2, 1.0), (2, 1, 1.0)])
    pr = pagerank(e, n_iter=2)
    pr.collect()
    assert jsc.getPersistentRDDs().size() == before + 1  # just the result
    release_persisted(blocking=True)
    assert jsc.getPersistentRDDs().size() == before


def test_n_iter_zero_is_uniform(spark):
    e = _edges(spark, [(1, 2, 1.0), (2, 1, 1.0)])
    pr = {r.node: r.pr for r in pagerank(e, n_iter=0).collect()}
    assert pr == {1: 0.5, 2: 0.5}


def test_negative_iter_raises(spark):
    e = _edges(spark, [(1, 2, 1.0)])
    with pytest.raises(ValueError):
        pagerank(e, n_iter=-1)


def test_bfs_hops_line_graph(spark):
    """1-2-3-4-5 line, seed {1}, max_hops=3: hops are path distances
    and node 5 stays unreached."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.operators.graph import bfs_hops

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    e = spark.createDataFrame(pairs, "a long, b long")
    edges = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionByName(e.select(F.col("b").alias("src"),
                                   F.col("a").alias("dst"))))
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.hops for r in bfs_hops(edges, seeds, 3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_early_exit_and_min_hop(spark):
    """A triangle plus a long way round: BFS keeps the MIN hop count,
    and an exhausted frontier stops the loop before max_hops."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.operators.graph import bfs_hops

    # 1-2, 2-3, 1-3 (3 reachable at hop 1 via direct edge)
    pairs = [(1, 2), (2, 3), (1, 3)]
    e = spark.createDataFrame(pairs, "a long, b long")
    edges = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionByName(e.select(F.col("b").alias("src"),
                                   F.col("a").alias("dst"))))
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.hops for r in bfs_hops(edges, seeds, 10).collect()}
    assert out == {1: 0, 2: 1, 3: 1}


def test_bellman_ford_prefers_cheap_long_path(spark):
    """1→2 direct costs 10; 1→3→2 costs 2 — two relax rounds must
    find the cheaper 2-edge path; one round only sees the direct."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.operators.graph import bellman_ford

    rows = [(1, 2, 10), (1, 3, 1), (3, 2, 1)]
    e = spark.createDataFrame(rows, "a long, b long, w long")
    edges = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                      "w")
             .unionByName(e.select(F.col("b").alias("src"),
                                   F.col("a").alias("dst"), "w")))
    seeds = spark.createDataFrame([(1,)], "node long")
    two = {r.node: r.cost for r in
           bellman_ford(edges, seeds, rounds=2).collect()}
    assert two == {1: 0, 3: 1, 2: 2}
    one = {r.node: r.cost for r in
           bellman_ford(edges, seeds, rounds=1).collect()}
    assert one[2] == 10  # direct edge only after a single round


def test_bellman_ford_rejects_negative_weights(spark):
    import pytest

    from sync_cosmos_db_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame([(1, 2, -5)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="negative edge weights"):
        bellman_ford(edges, seeds, rounds=1)


# ---------------------------------------------------------------------------
# Round-15 regressions: every iterative operator consumes its edge
# input in ONE pass (the connected_components single-pass discipline)
# ---------------------------------------------------------------------------

def _tagged_edges(spark, rows, schema="src long, dst long, w double"):
    """An edge source that counts how many times each input row is
    actually computed (the round-14 CC test mechanism — deterministic
    in local mode: tiny data, no task retries)."""
    counter = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(rows, schema)

    def tag(batches):
        for pdf in batches:
            counter.add(len(pdf))
            yield pdf

    return base.repartition(2).mapInPandas(tag, base.schema), counter


_E3 = [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 2.0)]


def test_symmetrize_single_pass_and_both_directions(spark):
    from sync_cosmos_db_spark.operators.graph import symmetrize

    edges, c = _tagged_edges(spark, _E3)
    rows = sorted(map(tuple, symmetrize(edges).collect()))
    assert rows == sorted([(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0),
                           (3, 2, 1.0), (10, 11, 2.0), (11, 10, 2.0)])
    assert c.value == 3, (
        f"symmetrize computed {c.value} source rows for 3 input edges")


def test_bellman_ford_single_pass_over_edges(spark):
    # pre-fix: probe + 3 relax rounds re-executed the edge plan every
    # time (x2 via the callers' union symmetrization) = 8 passes.
    from sync_cosmos_db_spark.operators.graph import bellman_ford, symmetrize

    edges, c = _tagged_edges(spark, _E3)
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.cost for r in
           bellman_ford(symmetrize(edges), seeds, rounds=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2}
    assert c.value == 3, (
        f"edge source computed {c.value} rows for 3 input edges — "
        "bellman_ford must cache its edge relation across rounds")


def test_min_label_propagation_single_pass_over_edges(spark):
    from sync_cosmos_db_spark.operators.graph import (
        min_label_propagation,
        symmetrize,
    )

    edges, c = _tagged_edges(spark, _E3)
    out = {r.node: r.label for r in
           min_label_propagation(symmetrize(edges), rounds=3).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert c.value == 3, (
        f"edge source computed {c.value} rows for 3 input edges — "
        "min_label_propagation must cache its edge relation")


def test_bfs_hops_single_pass_over_edges(spark):
    from sync_cosmos_db_spark.operators.graph import bfs_hops, symmetrize

    edges, c = _tagged_edges(spark, _E3)
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.hops for r in
           bfs_hops(symmetrize(edges), seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2}
    assert c.value == 3, (
        f"edge source computed {c.value} rows for 3 input edges — "
        "bfs_hops must cache its edge relation across hops")


def test_pagerank_single_pass_over_edges(spark):
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.operators.graph import pagerank, symmetrize

    edges, c = _tagged_edges(spark, _E3)
    pr = pagerank(symmetrize(edges), n_iter=3)
    assert pr.count() == 5
    release_persisted()
    assert c.value == 3, (
        f"edge source computed {c.value} rows for 3 input edges — "
        "pagerank must derive e/nodes from one cached materialization")


def test_k_core_single_pass_over_edges(spark):
    from sync_cosmos_db_spark.operators.graph import k_core, symmetrize

    edges, c = _tagged_edges(spark, _E3)
    out = k_core(symmetrize(edges), k=1, rounds=3).collect()
    assert len(out) == 5
    assert c.value == 3, (
        f"edge source computed {c.value} rows for 3 input edges")


def test_hits_single_pass_and_checkpointed_scores(spark):
    # pre-fix: the lazy h/a chains referenced e 2*iters+1 times and the
    # final hub∪authority union executed the whole converged chain once
    # per branch.
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.operators.graph import hits_scores

    edges, c = _tagged_edges(spark, _E3)
    out = hits_scores(edges, iters=3).collect()
    assert {r.kind for r in out} == {"hub", "authority"}
    release_persisted()
    assert c.value == 3, (
        f"edge source computed {c.value} rows for 3 input edges — "
        "hits_scores must cache e and checkpoint the converged scores")


def test_caller_persisted_edges_survive_operator_calls(spark):
    # ADVICE r15: the operators used to persist/unpersist the
    # caller-supplied edges unconditionally, so a caller that cached one
    # edge plan to share across several operator calls silently lost
    # the cache after the first call (recompute, not corruption).  Now
    # a caller-owned cache is left alone — and still counts as the
    # single materialization (1 pass over the edge source across BOTH
    # operator calls, not 1 per call).
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.operators.graph import (
        bfs_hops, hits_scores, min_label_propagation, symmetrize)

    edges, c = _tagged_edges(spark, _E3)
    sym = symmetrize(edges).persist()
    try:
        sym.count()
        assert c.value == 3
        seeds = spark.createDataFrame([(1,)], "node long")
        assert bfs_hops(sym, seeds, max_hops=2).count() > 0
        assert sym.is_cached, "bfs_hops dropped the caller's cache"
        assert min_label_propagation(sym, rounds=2).count() > 0
        assert sym.is_cached, ("min_label_propagation dropped the "
                               "caller's cache")
        assert hits_scores(sym, iters=2).count() > 0
        release_persisted()
        assert sym.is_cached, "hits_scores dropped the caller's cache"
        assert c.value == 3, (
            f"edge source computed {c.value} rows for 3 input edges "
            "across 3 operator calls sharing one caller-owned cache")
    finally:
        sym.unpersist(blocking=True)


def test_lazily_persisted_caller_edges_survive_multi_round_calls(spark):
    # The caller persists without filling, so the first round's
    # checkpoint job fills the caller's cache; the driver must not
    # mistake those blocks for the checkpoint's own and free them when
    # the next round's checkpoint lands.  k_core reads its input with
    # no edge cache of its own.
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.operators.graph import (
        bfs_hops, k_core, min_label_propagation, symmetrize)

    edges, c = _tagged_edges(spark, _E3)
    sym = symmetrize(edges).persist()
    try:
        seeds = spark.createDataFrame([(1,)], "node long")
        assert k_core(sym, k=1, rounds=3).count() > 0
        assert bfs_hops(sym, seeds, max_hops=3).count() > 0
        assert min_label_propagation(sym, rounds=3).count() > 0
        release_persisted()
        assert sym.is_cached
        assert c.value == 3, (
            f"edge source computed {c.value} rows for 3 input edges "
            "across 3 multi-round calls sharing one lazily filled "
            "caller-owned cache")
    finally:
        sym.unpersist(blocking=True)


# ---------------------------------------------------------------------------
# The iteration driver (operators/iteration.py)
# ---------------------------------------------------------------------------

def _job_census():
    """``tools/job_census.py`` as a module."""
    import importlib
    import os
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    return importlib.import_module("job_census")


def _tagged_run(spark, fn):
    """``(fn(), jobs fn ran)``, counted by job tag."""
    import uuid

    sc = spark.sparkContext
    tag = f"graph-test-{uuid.uuid4().hex[:8]}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    return out, _job_census().tagged_jobs(spark, tag)


def test_iterate_convergence_runs_no_job_of_its_own(spark):
    """With ``until``, a round runs only its checkpoint's jobs: the
    converging run costs exactly as many jobs as the same rounds run
    blind, so the observed count added none."""
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.operators.iteration import iterate

    chain = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long").persist()
    try:
        edges.count()
        init = (spark.range(1, 7).select(F.col("id").alias("node"))
                .withColumn("label", F.col("node")))
        rounds_run = []

        def step(labels, r):
            rounds_run.append(r)
            nmin = (labels.join(edges, labels["node"] == edges["src"])
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.min("label").alias("nmin")))
            return (labels.join(nmin, "node", "left")
                    .select("node",
                            F.least("label", F.coalesce("nmin", "label"))
                            .alias("label"),
                            (F.col("nmin") < F.col("label"))
                            .alias("changed")))

        (out, converged), with_until = _tagged_run(spark, lambda: iterate(
            init, step, 20, until=lambda _r: F.count_if("changed")))
        assert converged
        n = len(rounds_run)
        assert n < 20
        (blind, blind_converged), without = _tagged_run(
            spark, lambda: iterate(init, step, n))
        assert not blind_converged
        assert with_until == without, (
            f"{with_until} jobs with until vs {without} for the same "
            f"{n} rounds without it")
        assert ({r.node: r.label for r in out.collect()}
                == dict.fromkeys(range(1, 7), 1))
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, blind.collect()))
        release_persisted()
    finally:
        edges.unpersist(blocking=True)


def test_iterate_rejects_negative_rounds(spark):
    from sync_cosmos_db_spark.operators.iteration import iterate

    with pytest.raises(ValueError):
        iterate(spark.range(1), lambda s, _r: s, -1)


def test_operators_hold_only_their_output(spark):
    """After an iterative operator returns, the session's persisted
    RDDs are the output's checkpoint blocks and nothing else: each
    round's checkpoint is freed when the next lands, and the edge
    cache is released on return."""
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.operators import graph as G
    from sync_cosmos_db_spark.operators.dedup import connected_components

    jsc = spark.sparkContext._jsc.sc()
    w = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0),
                       (3, 4, 2.0), (4, 5, 1.0)])
    sym = G.symmetrize(w)
    seeds = spark.createDataFrame([(1,)], "node long")
    calls = {
        "pagerank": (lambda: G.pagerank(sym, n_iter=4), 1),
        "bfs_hops": (lambda: G.bfs_hops(sym, seeds, max_hops=4), 1),
        "bellman_ford": (lambda: G.bellman_ford(sym, seeds, rounds=4), 1),
        "min_label_propagation": (
            lambda: G.min_label_propagation(sym, rounds=4), 1),
        "k_core": (lambda: G.k_core(sym, k=2, rounds=4), 1),
        "hits_scores": (lambda: G.hits_scores(w, iters=4), 2),  # h and a
        "connected_components": (
            lambda: connected_components(w, "src", "dst"), 1),
    }
    for name, (call, n_out) in calls.items():
        release_persisted(blocking=True)
        before = jsc.getPersistentRDDs().size()
        out = call()
        held = jsc.getPersistentRDDs().size() - before
        assert held == n_out, (
            f"{name} left {held} persisted RDDs, expected {n_out}")
        assert out.count() > 0
    release_persisted()


def test_one_loop_home():
    """Loop policy lives in ``operators/iteration.py`` only: no
    checkpoint or persist inside a ``for``/``while`` in ``graph.py`` or
    ``dedup.connected_components``, and the caller-cache check is used
    only by ``cache_scope.cached``."""
    import ast
    import inspect

    from sync_cosmos_db_spark.operators import dedup, graph

    banned = {"scoped_local_checkpoint", "localCheckpoint", "checkpoint",
              "persist", "cache"}

    def calls_in_loops(tree):
        for loop in ast.walk(tree):
            if isinstance(loop, (ast.For, ast.While)):
                for node in ast.walk(loop):
                    if isinstance(node, ast.Call):
                        f = node.func
                        name = f.attr if isinstance(f, ast.Attribute) else (
                            f.id if isinstance(f, ast.Name) else None)
                        if name in banned:
                            yield name

    graph_src = inspect.getsource(graph)
    cc_src = inspect.getsource(dedup.connected_components)
    for label, src in (("graph.py", graph_src),
                       ("dedup.connected_components", cc_src)):
        found = list(calls_in_loops(ast.parse(src)))
        assert not found, f"{label} checkpoints/persists in a loop: {found}"
        for word in ("_caller_cached", "storageLevel", "own_cache"):
            assert word not in src, f"{label} uses {word}"


# (build, collect) Spark jobs of the 11 registered queries that reach
# the iteration driver, at sf0.001 on local[4] with 4 shuffle
# partitions, counted by ``tools/job_census.py``: build jobs run
# before the frame is returned, collect jobs consume it.  Upper
# bounds: an entry may only go down.  Measured warm (the census's
# ``--warm``, each query run once first) and cold (as this test runs
# them, after the rest of this module), the counts agree and repeat
# exactly across runs: the edge caches are filled before they are
# read (``cache_scope.cached``), which is what makes them exact.
# Before the driver these queries ran 293 build jobs.
JOB_BUDGET = {
    "curation_pipeline_stats": (45, 6),
    "curation_pipeline_stats_sampled": (35, 6),
    "pagerank_customer_supplier": (22, 1),
    "dedup_components": (18, 1),
    "bfs_3hop_nation1": (19, 1),
    "hits_customer_supplier": (21, 5),
    "canonical_doc_election_sampled": (17, 3),
    "bellman_ford_trade_distance": (20, 1),
    "canonical_doc_election": (15, 3),
    "label_propagation_docs": (20, 1),
    "kcore_docs": (11, 2),
}


def test_iterative_query_job_budget(spark, sf_dir):
    rows = _job_census().census(spark, sf_dir, sorted(JOB_BUDGET))
    over = {r["query"]: ((r["build_jobs"], r["collect_jobs"]),
                         JOB_BUDGET[r["query"]])
            for r in rows
            if r["build_jobs"] > JOB_BUDGET[r["query"]][0]
            or r["collect_jobs"] > JOB_BUDGET[r["query"]][1]}
    assert not over, (
        f"(build, collect) jobs over budget (ran, budget): {over}")
