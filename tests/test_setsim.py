"""Exact set-similarity join (prefix filtering): completeness vs the
brute-force n² join, prefix bound arithmetic, and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sync_cosmos_db_spark.operators.setsim import (
    prefix_length,
    setsim_join,
)


def _brute(spark, rows, t):
    """n² reference: exact Jaccard pairs via Python sets."""
    sets = {i: set(txt.split(" ")) for i, txt in rows}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                out.add((a, b, inter, union))
    return out


def test_parity_with_bruteforce_under_repartition(spark):
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i k"),        # J = 9/11 vs 1
        (3, "a b c d e f g h i j zz"),     # J = 10/11 vs 1
        (4, "x y z w v u t s r q"),
        (5, "x y z w v u t s r q"),        # identical to 4
        (6, "m n o p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(7)
    for t in (0.5, 0.7, 0.9, 1.0):
        got = {(r.id_a, r.id_b, r.inter, r.n_union) for r in
               setsim_join(df, "doc_id", "text", t).collect()}
        assert got == _brute(spark, rows, t), f"threshold {t}"


def test_prefix_bound_no_float_shortening():
    # 0.7 * 20 floats to 14.000000000000002; the guard must keep the
    # prefix at 20 - 14 + 1 = 7, not 6.
    assert prefix_length(20, 0.7) == 7
    assert prefix_length(10, 0.7) == 4
    assert prefix_length(5, 1.0) == 1


def test_jaccard_values_rounded(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c")], "doc_id long, text string")
    r = setsim_join(df, "doc_id", "text", 0.7).collect()
    assert len(r) == 1
    assert (r[0].inter, r[0].n_union, r[0].jaccard) == (3, 4, 0.75)


def test_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        setsim_join(df, "doc_id", "text", 0.0)


def test_no_cartesian_in_plan(spark):
    df = spark.createDataFrame(
        [(i, f"t{i} common") for i in range(20)],
        "doc_id long, text string")
    plan = (setsim_join(df, "doc_id", "text", 0.8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))


def test_parity_across_verify_tiers(spark):
    """The three verify tiers (≤64-vocab bitset / int64-id arrays /
    string arrays) must agree pair-for-pair.  A 70-token vocabulary
    forces the array tier; the same corpus restricted to 30 tokens
    takes the bitset tier — both checked against the n² reference.
    63/64/65 straddle the bitset boundary: at 64 the top token owns
    bit 63, the int64 sign bit."""
    import random

    rng = random.Random(7)
    big_vocab = [f"tok{i}" for i in range(70)]     # > 64 → array tier
    for n_vocab in (70, 30, 63, 64, 65):
        vocab = big_vocab[:n_vocab]
        rows = [(i, " ".join(rng.sample(vocab, 10))) for i in range(1, 31)]
        rows += [(100 + i, txt) for i, (j, txt) in enumerate(rows[:5])]
        # every vocab token occurs, so the tier boundary is really hit
        rows += [(200 + k, " ".join(vocab[k:k + 10]))
                 for k in range(0, n_vocab, 10)]
        assert {t for _, txt in rows for t in txt.split()} == set(vocab)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.id_a, r.id_b, r.inter, r.n_union) for r in
               setsim_join(df, "doc_id", "text", 0.5).collect()}
        assert got == _brute(spark, rows, 0.5), f"vocab={n_vocab}"
