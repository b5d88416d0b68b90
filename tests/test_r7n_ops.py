"""Ground-truth unit tests for round-7 batch-13 families X219-X222."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# X219 — share of parent (query-level; shares pinned by oracle sweep)
# ---------------------------------------------------------------------------

def test_share_of_parent_invariants(spark, sf_dir):
    """Within each region the nation shares sum to 1; region shares
    of total sum to 1 across distinct regions."""
    from sync_cosmos_db_spark.queries_r7 import (
        share_of_parent_nations,
    )

    rows = share_of_parent_nations(spark, sf_dir).collect()
    by_region = {}
    for r in rows:
        by_region.setdefault(r["region"], []).append(r)
    for region, rs in by_region.items():
        assert sum(x["share_of_region"] for x in rs) == \
            pytest.approx(1.0, abs=1e-3)
        # every nation row in a region carries the same region share
        assert len({x["region_share_of_total"] for x in rs}) == 1
    tot = sum(rs[0]["region_share_of_total"]
              for rs in by_region.values())
    assert tot == pytest.approx(1.0, abs=1e-3)


# ---------------------------------------------------------------------------
# X220 — penny-exact allocation
# ---------------------------------------------------------------------------

def test_allocate_exact_conservation_and_spread(spark):
    """100.01 over 3 lines → 33.34/33.34/33.33 (first lines get the
    pennies), sums exactly."""
    from sync_cosmos_db_spark.operators.profiling import allocate_exact

    parent = spark.createDataFrame([("o1", 100.01)],
                                   "k string, amt double")
    child = spark.createDataFrame(
        [("o1", 1), ("o1", 2), ("o1", 3)], "k string, line int")
    out = sorted(allocate_exact(parent, child, "k", "amt",
                                "line").collect(),
                 key=lambda r: r["line"])
    cents = [r["alloc_cents"] for r in out]
    assert cents == [3334, 3334, 3333]
    assert sum(cents) == 10001
    assert out[0]["alloc"] == 33.34


def test_allocate_exact_no_remainder(spark):
    """Evenly divisible amounts allocate identically to each line."""
    from sync_cosmos_db_spark.operators.profiling import allocate_exact

    parent = spark.createDataFrame([("o", 90.00)], "k string, amt double")
    child = spark.createDataFrame([("o", i) for i in range(1, 4)],
                                  "k string, line int")
    out = allocate_exact(parent, child, "k", "amt", "line").collect()
    assert all(r["alloc_cents"] == 3000 for r in out)


def test_allocation_query_conserves_total(spark, sf_dir):
    """Σ supplier alloc_cents == Σ cents of orders that HAVE
    lineitems — the reconciliation float division breaks."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.queries_r7 import (
        allocated_revenue_suppliers,
    )
    from sync_cosmos_db_spark.session import load_table

    out = allocated_revenue_suppliers(spark, sf_dir)
    got = out.agg(F.sum("alloc_cents")).collect()[0][0]
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")).distinct()
    want = (orders.join(li, orders.o_orderkey == li.k)
            .agg(F.sum(F.floor(F.col("o_totalprice") * 100
                               + F.lit(0.5)).cast("long")))
            .collect()[0][0])
    assert got == want


# ---------------------------------------------------------------------------
# X221 — trigram substring search
# ---------------------------------------------------------------------------

def test_trigram_candidates_superset_of_matches(spark):
    """Candidates ⊇ matches; a doc sharing the trigrams but not the
    substring is a candidate yet not a match; unrelated docs are
    neither."""
    from sync_cosmos_db_spark.operators.retrieval import (
        trigram_like_search,
    )

    rows = [(1, "g", "the merge batch runs"),      # match
            (2, "g", "batch then merge later"),    # trigrams, no substr
            (3, "g", "nothing relevant here")]     # neither
    df = spark.createDataFrame(rows, "id long, g string, t string")
    r = trigram_like_search(df, "id", "t", "merge batch",
                            group_col="g").collect()[0]
    assert r["n_docs"] == 3
    assert r["n_matches"] == 1
    assert r["n_candidates"] >= r["n_matches"]
    assert r["n_candidates"] <= 2


def test_trigram_short_pattern_rejected(spark):
    from sync_cosmos_db_spark.operators.retrieval import (
        trigram_like_search,
    )

    df = spark.createDataFrame([(1, "x", "ab")], "id long, g string, t string")
    with pytest.raises(ValueError):
        trigram_like_search(df, "id", "t", "ab")


# ---------------------------------------------------------------------------
# X222 — time-travel reconstruction
# ---------------------------------------------------------------------------

def test_state_asof_prefix_semantics(spark, sf_dir):
    """As-of seq 2 the %7 keys (not deleted by %11) carry their
    seq-1 price ×1.1, NOT the seq-3 price +55.5; tombstoned %11
    keys are gone; %13 inserts exist under negative keys."""
    from pyspark.sql import functions as F

    from sync_cosmos_db_spark.queries_streaming import (
        state_asof_orders_seq2,
    )
    from sync_cosmos_db_spark.session import load_table

    out = state_asof_orders_seq2(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    src = {r["o_orderkey"]: r["o_totalprice"] for r in
           orders.filter((k % 7 == 0) & (k % 11 != 0)
                         & (k > 0)).limit(5).collect()}
    got = {r["o_orderkey"]: r["o_totalprice"] for r in
           out.filter(F.col("o_orderkey").isin(list(src))).collect()}
    for kk, p in src.items():
        assert got[kk] == pytest.approx(p * 1.1, abs=0.011)
    # tombstones applied
    assert out.filter((k % 11 == 0) & (k > 0)).count() == 0
    # inserts present
    assert out.filter(k < 0).count() > 0
