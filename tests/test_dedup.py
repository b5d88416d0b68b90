"""Dedup operator tests (X1/X2): exact determinism + approximate
operators measured against the exact baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sync_cosmos_db_spark.operators import dedup as D
from sync_cosmos_db_spark.queries_llm import (
    _corpus_with_near_dups,
)
from sync_cosmos_db_spark.session import load_table


def test_exact_dedup_deterministic_keeper(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "doc_id long, text string")
    out = {r.doc_id: r.n_copies
           for r in D.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {1: 2, 2: 1}  # min id kept, copies counted


def test_minhash_lsh_finds_injected_near_dups(spark, sf_dir):
    corpus = _corpus_with_near_dups(spark, sf_dir)
    exact = D.jaccard_pairs(corpus, "doc_id", "text", threshold=0.7, n=3)
    lsh = D.minhash_lsh_pairs(corpus, "doc_id", "text", shingle_n=3,
                              num_hashes=64, bands=16, threshold=0.5)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert exact_pairs, "corpus must contain injected near-dups"
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    # banded LSH at s>=0.7 has hit prob >= 1-(1-0.7^4)^16 ≈ 0.99
    assert recall >= 0.9, f"LSH recall too low: {recall}"
    # precision is exact by construction (verified with true Jaccard)
    for r in lsh.collect():
        assert r.jaccard_sim >= 0.5


def test_simhash_blocks_injected_near_dups(spark, sf_dir):
    corpus = _corpus_with_near_dups(spark, sf_dir)
    pairs = D.simhash_dup_pairs(corpus, "doc_id", "text", max_hamming=3)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    injected = {(r.doc_id, r.doc_id + 200000)
                for r in load_table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % 11 == 0).collect()}
    # near-identical token multisets → tiny Hamming distance; most
    # injected pairs must surface
    hit = len(found & injected) / len(injected)
    assert hit >= 0.6, f"simhash hit rate too low: {hit}"


def test_lsh_degenerate_bucket_gated_before_collect(spark):
    """Skew hardening (round-1 verdict item 2): a 5k-row degenerate
    bucket — one boilerplate string repeated — must be dropped by the
    max_bucket gate BEFORE collect_list runs, so its id list is never
    materialized as one aggregation-buffer array. The gate is a count
    over a (band, bucket) window sharing the aggregation's shuffle;
    assert the plan shape (window-count filter upstream of the
    collect_list aggregate) and the behavior (cluster dropped, genuine
    near-dups in the same corpus still found)."""
    boiler = " ".join(f"w{i}" for i in range(30))
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "changed")
    clones = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
    extras = spark.createDataFrame(
        [(100001, base), (100002, near)], "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(clones.unionByName(extras), "doc_id",
                                "text", threshold=0.5, max_bucket=100)
    plan = pairs._jdf.queryExecution().toString()
    assert "windowspecdefinition" in plan
    assert "collect_list" in plan
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert found == {(100001, 100002)}  # clones gated, real pair kept


def test_jaccard_short_doc_guard(spark):
    # docs shorter than the shingle width must yield empty shingles,
    # not a descending-sequence crash
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    out = df.select(D.word_shingles("text", 3).alias("sh")).collect()
    assert out[0].sh == []


def test_connected_components_transitive(spark):
    """A 2-chain and a 3-chain must collapse to their min ids; isolated
    pairs keep their own component."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11),                    # pair
         (20, 21), (21, 22)],         # chain 20-21-22
        "id_a long, id_b long")
    out = {r.node: r.component
           for r in D.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a run of >= k+window-1 (=6) tokens must share at
    least one winnowing fingerprint; a doc shorter than the window
    yields an empty set."""
    from sync_cosmos_db_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, f"intro words {shared} tail one"),
         (2, f"other opening {shared} different ending"),
         (3, "completely unrelated content here now"),
         (4, "too short")],
        "doc_id long, text string")
    rows = df.select("doc_id",
                     winnowing_fingerprints("text").alias("fps")).collect()
    fps = {r.doc_id: set(r.fps) for r in rows}
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert fps[4] == set()


def test_connected_components_raises_on_nonconvergence(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(chain, max_iter=3)


def test_connected_components_single_pass_over_edges(spark):
    """Round-14 regression: CC materializes the bidirectional edge
    relation in ONE pass over its input.  The old union-of-two-selects
    re-executed the upstream edge plan once per branch — for real
    callers that upstream is an expensive pair join, so the dominant
    stage ran twice.  An accumulator inside a mapInPandas edge source
    counts how many times each input row is actually computed
    (deterministic in local mode: tiny data, no task retries; persist
    inside CC means later iterations reuse the materialized rows)."""
    counter = spark.sparkContext.accumulator(0)

    def tag(batches):
        for pdf in batches:
            counter.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    edges = base.repartition(2).mapInPandas(tag, base.schema)
    out = {r.node: r.component
           for r in D.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert counter.value == 3, (
        f"edge source computed {counter.value} rows for 3 input edges — "
        "the bidirectional expansion must not re-execute the edge plan")


# ---------------------------------------------------------------------------
# Exact substring-span dedup (duplicated_span_coverage)
# ---------------------------------------------------------------------------

def test_span_coverage_shared_prefix(spark):
    from sync_cosmos_db_spark.operators.dedup import duplicated_span_coverage
    df = spark.createDataFrame(
        [(1, "a b c d e f g h X Y"),
         (2, "a b c d e f g h Z")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            duplicated_span_coverage(df, n=8).collect()}
    # only the length-8 prefix gram is shared -> positions 1..8 covered
    assert (rows[1]["n_tokens"], rows[1]["covered_tokens"]) == (10, 8)
    assert (rows[2]["n_tokens"], rows[2]["covered_tokens"]) == (9, 8)
    assert rows[1]["dup_span_frac"] == 0.8


def test_span_coverage_within_doc_repeat_not_counted(spark):
    from sync_cosmos_db_spark.operators.dedup import duplicated_span_coverage
    # the same 8-gram occurs twice in ONE doc but in no other doc:
    # cross-document dedup must not flag it
    df = spark.createDataFrame(
        [(1, "a b c d e f g h a b c d e f g h"),
         (2, "p q r s t u v w x")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            duplicated_span_coverage(df, n=8).collect()}
    assert rows[1]["covered_tokens"] == 0
    assert rows[2]["covered_tokens"] == 0


def test_span_coverage_short_doc_retained(spark):
    from sync_cosmos_db_spark.operators.dedup import duplicated_span_coverage
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            duplicated_span_coverage(df, n=8).collect()}
    # sub-n docs contribute no grams (even identical ones) but keep a row
    assert rows[1]["n_tokens"] == 3 and rows[1]["covered_tokens"] == 0
    assert rows[1]["dup_span_frac"] == 0.0


def test_span_coverage_viral_gram_gate(spark):
    """Round-4 verdict item 3: a corpus-viral n-gram (planted in every
    doc) is dropped from span accounting by the count gate, the run
    completes with the degenerate gram partition bounded by the window
    sorter, and the audit companion reports exactly what was dropped."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.operators.dedup import (
        duplicated_span_coverage,
        duplicated_span_oversized_grams,
    )

    hot = "h0 h1 h2 h3 h4 h5 h6 h7"          # one viral 8-gram
    docs = (spark.range(0, 10_000)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit(hot + " "),
                             F.concat_ws(" ", *[
                                 F.concat(F.lit(f"w{i}u"), F.col("id"))
                                 for i in range(8)]))
                    .alias("text"))
            .repartition(8))

    out = duplicated_span_coverage(docs, n=8, max_gram_occ=1000)
    rows = out.collect()
    assert len(rows) == 10_000
    # the ONLY cross-doc grams involve the viral prefix; with the gate
    # at 1000 (< 10k occurrences) every one of its pure occurrences is
    # dropped... but mixed grams (hot tail + unique words) occur once
    # per doc and are never shared, so coverage must be 0 everywhere.
    assert all(r.covered_tokens == 0 for r in rows)

    audit = duplicated_span_oversized_grams(
        docs, n=8, max_gram_occ=1000).collect()
    assert [(r.gram, r.n_occurrences, r.n_docs) for r in audit] \
        == [(hot, 10_000, 10_000)]

    # ungated, the same corpus counts the viral span everywhere
    ungated = duplicated_span_coverage(docs, n=8).collect()
    assert all(r.covered_tokens == 8 for r in ungated)


def test_elect_canonical_quality_and_tiebreak(spark):
    """Two clusters: in {1,2,3} quality picks 2; in {10,11} a quality
    TIE resolves to the lower id."""
    from sync_cosmos_db_spark.operators.dedup import elect_canonical

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7), (10, 4), (11, 4)],
        "doc_id long, n_chars long")
    out = {r.component: r for r in
           elect_canonical(pairs, docs).collect()}
    assert out[1].canonical_id == 2 and out[1].n_members == 3
    assert out[1].best_quality == 9
    assert out[10].canonical_id == 10 and out[10].n_members == 2


def test_let_binds_expression_once_identical_output(spark):
    """dedup.let (the round-11 HOF-CSE fix): the bound form must be
    row-identical to the inline form, including nulls, empties, and
    sub-n docs — and word_shingles (now let-routed) must match a
    hand-rolled inline reconstruction."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, ""), (4, None), (5, "x y z")],
        "doc_id long, text string")

    # inline reconstruction of the pre-let word_shingles
    w = F.split(F.col("text"), r"\s+")
    starts = F.sequence(F.lit(1), F.size(w) - 2)
    inline = F.when(F.size(w) < 3, F.array().cast("array<string>")) \
        .otherwise(F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(w, i, 3))))

    got = df.select("doc_id", D.word_shingles("text", 3).alias("s"),
                    inline.alias("ref")).collect()
    for r in got:
        assert r.s == r.ref, (r.doc_id, r.s, r.ref)
    by_id = {r.doc_id: r.s for r in got}
    assert by_id[1] == ["a b c", "b c d", "c d e"]
    assert by_id[2] == []          # sub-n doc
    assert by_id[4] is None        # null text propagates as null


def test_let_helper_general_expression(spark):
    """let() works for arbitrary expression types and arities."""
    df = spark.createDataFrame([(4,), (9,), (None,)], "x long")
    doubled_sum = D.let(
        F.sequence(F.lit(1), F.col("x")),
        lambda arr: F.aggregate(arr, F.lit(0).cast("long"),
                                lambda acc, v: acc + v) * 2)
    rows = {r.x: r.y for r in df.select("x", doubled_sum.alias("y")).collect()}
    assert rows[4] == 20 and rows[9] == 90 and rows[None] is None


# ---------------------------------------------------------------------------
# MinHash Arrow kernel
# ---------------------------------------------------------------------------

_M31 = (1 << 31) - 1


def _reference_signature(shingles, coeffs):
    """Pure-Python MinHash: min over shingles of (a·(s mod M) + b) mod M."""
    return [min((a * (s % _M31) + b) % _M31 for s in shingles)
            for a, b in coeffs]


def test_minhash_signatures_match_python_reference(spark):
    """The Arrow kernel against an independent per-document reference:
    string ids, a corpus spread over many small Arrow batches and
    several partitions, negative hashes, Long.MIN/MAX_VALUE and
    single-shingle docs; null and empty arrays drop out."""
    import random

    rng = random.Random(7)
    lo, hi = -(1 << 63), (1 << 63) - 1
    rows = [(f"d{i}", [rng.randint(lo, hi)
                       for _ in range(rng.randint(1, 40))])
            for i in range(300)]
    rows += [("empty", []), ("null", None), ("single", [5]),
             ("single_neg", [-5]), ("extremes", [lo, hi, -1, 0]),
             ("min_only", [lo]), ("max_only", [hi])]
    df = spark.createDataFrame(rows, "doc_id string, sh array<bigint>") \
        .repartition(3)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "16")
    try:
        got = {r.doc_id: r["__sig"] for r in
               D.minhash_signatures(df, "doc_id", "sh").collect()}
    finally:
        spark.conf.set(conf, old)
    coeffs = D._affine_coeffs(64, 42)
    want = {i: _reference_signature(sh, coeffs)
            for i, sh in rows if sh}
    assert set(got) == set(want)          # "empty" and "null" dropped
    bad = [i for i in want if got[i] != want[i]]
    assert not bad, f"signatures differ from the reference for {bad[:5]}"


def test_lsh_buckets_equal_xxhash_of_signature_slices(spark, sf_dir):
    """Every (band, bucket) the pipeline shuffles on equals
    xxhash64(sig[b·r], …, sig[b·r+r−1]) computed in Spark from the
    signature, with the same member counts."""
    num_hashes, bands = 64, 16
    r = num_hashes // bands
    corpus = _corpus_with_near_dups(spark, sf_dir).select("doc_id", "text")
    shingled = corpus.select(
        "doc_id",
        F.array_distinct(D.hashed_shingles("text", 3)).alias("__sh"))
    sigs = D.minhash_signatures(shingled, "doc_id", num_hashes=num_hashes)
    expected = (
        sigs.select(F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.col("__sig")[b * r + j]
                                  for j in range(r)]).alias("bucket"))
            for b in range(bands)])).alias("bb"))
        .groupBy("bb.band", "bb.bucket").count())
    got = D.minhash_lsh_oversized_buckets(
        corpus, "doc_id", "text", num_hashes=num_hashes, bands=bands,
        max_bucket=0)
    want = {(r_.band, r_.bucket): r_["count"] for r_ in expected.collect()}
    have = {(r_.band, r_.bucket): r_.n_members for r_ in got.collect()}
    assert want and have == want


@pytest.mark.parametrize("num_hashes,bands", [(64, 15), (64, 128), (64, 0)])
def test_minhash_band_count_guard(spark, num_hashes, bands):
    """Bands must tile the signature: 15 bands of 64 hashes used to band
    only 60 of them, 128 bands failed inside Spark with an empty
    xxhash64, and 0 bands divided by zero."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    for op in (D.minhash_lsh_pairs, D.minhash_lsh_oversized_buckets):
        with pytest.raises(ValueError, match="bands must divide"):
            op(df, "doc_id", "text", num_hashes=num_hashes, bands=bands)


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_minhash_lsh_plan_has_no_id_aggregate(spark):
    """Plan-shape guard: nothing below the (band, bucket) window — whose
    exchange is the pipeline's first shuffle — aggregates (the
    per-document 64-``min`` signature groupBy is gone), and the
    signatures come from exactly one MapInArrow."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(df, "doc_id", "text")
    plan = pairs._jdf.queryExecution().executedPlan().inputPlan()
    nodes = list(_plan_nodes(plan))
    assert [n.nodeName() for n in nodes].count("MapInArrow") == 1
    band_windows = [
        n for n in nodes if n.nodeName() == "Window"
        and "windowspecdefinition(band#" in n.simpleString(100)]
    assert len(band_windows) == 1
    below = [n.nodeName() for n in _plan_nodes(band_windows[0])]
    assert "MapInArrow" in below
    assert not [n for n in below if "Aggregate" in n], below
