"""The shared two-phase range scan (``operators/partitioning``): exact
parity with a single-partition ``Window`` reference, plus a structural
guard that keeps it the package's only quantile range scan."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.operators.curation import global_sort_index
from sync_cosmos_db_spark.operators.partitioning import range_cumsum

PKG = pathlib.Path(__file__).resolve().parent.parent / "sync_cosmos_db_spark"


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id long, v long, x double")


# (rows, order, descending) — ties straddle quantile bounds (few
# distinct v, heavily skewed), fewer rows than buckets, an empty frame,
# a negated key for descending order; x sums are exact binary fractions
_TIES = [(i, min(i % 7, 3) + (i >= 250) * 10, (i % 9) * 0.25)
         for i in range(300)]
_FEW = [(i, 10 - i, i * 1.5) for i in range(5)]
_CASES = {
    "ties": (_TIES, False),
    "fewer_rows_than_buckets": (_FEW, False),
    "empty": ([], False),
    "descending": (_TIES, True),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_range_cumsum_matches_window(spark, case):
    rows, desc = _CASES[case]
    df = _frame(spark, rows)
    key = "neg" if desc else "v"
    df = df.withColumn("neg", -F.col("v"))
    got_df, totals = range_cumsum(
        df, [key, "id"], {"rk": F.lit(1), "cs": F.col("x")}, n_buckets=16)
    gi = global_sort_index(df, key, "id", n_buckets=16, out_col="gi")
    w = (W.orderBy(F.col("v").desc() if desc else F.col("v"), "id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    want = {r.id: (r.rk, r.cs) for r in df.select(
        "id", F.row_number().over(w).alias("rk"),
        F.sum("x").over(w).alias("cs")).collect()}
    got = {r.id: (r.rk, r.cs) for r in got_df.collect()}
    assert got == want
    assert {r.id: r.gi for r in gi.collect()} == \
        {i: rk for i, (rk, _) in want.items()}
    assert got_df.columns == df.columns + ["rk", "cs"]
    assert totals == {"rk": len(rows), "cs": sum(x for *_, x in rows)}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text())


def test_approx_quantile_only_in_partitioning():
    """One range scan: ``approxQuantile`` is called only from
    ``operators/partitioning.py``."""
    calls = [str(p.relative_to(PKG)) for p, tree in _modules()
             for n in ast.walk(tree)
             if isinstance(n, ast.Attribute) and n.attr == "approxQuantile"]
    assert calls == ["operators/partitioning.py"]


def test_no_private_operator_imports_across_modules():
    """Shared helpers are public: no module imports a ``_``-prefixed
    name from another operators module."""
    bad = [f"{p.relative_to(PKG)}:{n.lineno} {a.name}"
           for p, tree in _modules() for n in ast.walk(tree)
           if isinstance(n, ast.ImportFrom)
           and (n.module or "").startswith("sync_cosmos_db_spark.operators.")
           for a in n.names if a.name.startswith("_")]
    assert bad == []
