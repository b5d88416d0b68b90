"""Migration kernel tests (O6/O12/O18/O21/O22): the golden scenario from
SURVEY.md §5.2 — known insert/update/skip/error composition."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sync_cosmos_db_spark.migration import (
    check_pk_alignment,
    classify_actions,
    merge_target_state,
    migrate_container,
    same_documents,
    verify_migration,
)
from sync_cosmos_db_spark.sources import catalog

PKG = Path(__file__).resolve().parent.parent / "sync_cosmos_db_spark"

SRC = [
    ("s1", "t1", "same content", "E-src", 1),
    ("s2", "t1", "changed in source", "E-src", 2),
    ("s3", "t2", "new in source", "E-src", 3),
    (None, "t2", "invalid: no id", "E-src", 4),
    ("s5", "", "invalid: empty pk", "E-src", 5),
]
TGT = [
    ("s1", "t1", "same content", "E-tgt-different", 99),   # → skip (strip is load-bearing)
    ("s2", "t1", "original content", "E-tgt", 98),         # → update
    ("t9", "t3", "target-only", "E-tgt", 97),              # → kept as is
]
SCHEMA = "id string, tenantId string, body string, _etag string, _ts long"


def test_golden_counter_quadruple(spark):
    src = spark.createDataFrame(SRC, SCHEMA)
    tgt = spark.createDataFrame(TGT, SCHEMA)
    tagged, result = migrate_container(
        src, tgt, keys=["id", "tenantId"], container="golden")
    assert (result.inserted, result.updated, result.skipped, result.errors) \
        == (1, 1, 1, 2)
    actions = {r.id: r.action for r in tagged.collect()}
    assert actions == {"s1": "skip", "s2": "update", "s3": "insert"}


def test_idempotent_second_migration_all_skip(spark):
    # property from the reference's dedup short-circuit (migration.py:129-130)
    src = spark.createDataFrame([r for r in SRC if r[0] and r[1]], SCHEMA)
    tagged = classify_actions(src, src, keys=["id", "tenantId"])
    assert {r.action for r in tagged.collect()} == {"skip"}


def test_pk_alignment_abort():
    check_pk_alignment(["/tenantId"], ["/tenantId"])  # no raise
    with pytest.raises(ValueError, match="do not match"):
        check_pk_alignment(["/tenantId"], ["/id"])
    with pytest.raises(ValueError):
        # hierarchical list compared in full, not truncated (SURVEY §1.4)
        check_pk_alignment(["/a", "/b"], ["/a"])


def test_verify_migration_strong(spark):
    a = spark.createDataFrame(TGT, SCHEMA)
    b = spark.createDataFrame(TGT, SCHEMA).withColumn("_etag", F.lit("X"))
    ok, n_src, n_tgt = verify_migration(a, b, strong=True)
    assert ok and n_src == n_tgt == 3
    c = spark.createDataFrame(TGT[:2], SCHEMA)
    ok2, *_ = verify_migration(a, c)
    assert not ok2


def test_merge_keeps_target_only_document(spark):
    """The new target state is the tagged source rows plus the target
    rows whose key the source lacks; a kept row is not stripped of its
    system fields."""
    keys = ["id", "tenantId"]
    src = spark.createDataFrame([r for r in SRC if r[0] and r[1]], SCHEMA)
    tgt = spark.createDataFrame(TGT, SCHEMA)
    clean = src.drop("_etag", "_ts")
    state = merge_target_state(classify_actions(clean, tgt, keys),
                               clean, tgt, keys)
    assert "action" not in state.columns
    got = {r.id: (r.body, r._etag, r._ts) for r in state.collect()}
    assert got == {
        "s1": ("same content", None, None),
        "s2": ("changed in source", None, None),
        "s3": ("new in source", None, None),
        "t9": ("target-only", "E-tgt", 97),
    }


def _write(spark, rows, path):
    spark.createDataFrame(rows, "id string, val long").coalesce(1).write \
        .mode("overwrite").parquet(path)


def _batch_path(spark, tmp_path, seeded, source):
    from sync_cosmos_db_spark.orchestrator import migrate_account_path

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    for root, rows in ((tgt, seeded), (src, source)):
        catalog.create_container_if_not_exists(root, "db", "c")
        _write(spark, rows, catalog.container_data_path(root, "db", "c"))
    migrate_account_path(spark, src, tgt, database="db")
    return catalog.container_data_path(tgt, "db", "c")


def _catchup_path(spark, tmp_path, seeded, source):
    from sync_cosmos_db_spark.streaming.incremental import (
        incremental_migrate,
    )

    src, tgt = str(tmp_path / "feed"), str(tmp_path / "tgt.parquet")
    ckpt = str(tmp_path / "ckpt")
    # one bucket, so the batch's merge reads the target-only document
    for rows in (seeded, source):
        spark.createDataFrame(rows, "id string, val long").coalesce(1) \
            .write.mode("append").parquet(src)
        incremental_migrate(spark, src, tgt, ["id"], "id string, val long",
                            ckpt, n_buckets=1)
    return tgt


@pytest.mark.parametrize("path", [_batch_path, _catchup_path],
                         ids=["migrate_account_path", "incremental_migrate"])
def test_target_only_document_survives(spark, tmp_path, path):
    """Both write paths apply the same merge rule: a target document
    whose key the source lacks is kept, never deleted."""
    out = path(spark, tmp_path, seeded=[("b", 20), ("z", 26)],
               source=[("a", 1), ("b", 2)])
    got = {r.id: r.val for r in spark.read.parquet(out).collect()}
    assert got == {"a": 1, "b": 2, "z": 26}


MIGRATE_LAYER = ("migration.py", "orchestrator.py", "sinks.py",
                 "sanitizer.py", "document_model.py", "cache_scope.py",
                 "streaming/incremental.py")


def test_left_anti_target_join_only_in_migration():
    """One merge rule: within the migrate layer and every module that
    imports it, the ``left_anti`` join is spelled once, in
    ``migration.merge_target_state``."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        name = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        uses_layer = name in MIGRATE_LAYER or any(
            isinstance(n, ast.ImportFrom)
            and n.module == "sync_cosmos_db_spark.migration"
            for n in ast.walk(tree))
        if uses_layer:
            hits += [name for n in ast.walk(tree)
                     if isinstance(n, ast.Constant) and n.value == "left_anti"]
    assert hits == ["migration.py"]


DOCS = [("a", "x", ("t", 1)), ("b", "y", ("u", 2)), ("c", "z", ("v", 3))]
DOCS_SCHEMA = "id string, body string, meta struct<tag: string, n: long>"


@pytest.mark.parametrize("changed", [
    [DOCS[0], DOCS[0], DOCS[2]],                # one row doubled, one gone
    [DOCS[0], DOCS[1], ("c", "z", ("v", 4))],   # one nested field changed
], ids=["duplicate", "nested_field"])
def test_strong_check_sees_content_behind_equal_counts(spark, changed):
    """The one multiset aggregate answers False where the two
    ``exceptAll`` checks it replaced did, on equal-count inputs."""
    a = spark.createDataFrame(DOCS, DOCS_SCHEMA)
    b = spark.createDataFrame(changed, DOCS_SCHEMA)
    assert not (a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty())
    assert same_documents(a, b) is False
    assert same_documents(a, a) is True
    assert verify_migration(a, b, strong=True) == (False, 3, 3)


def _calls(tree: ast.AST, attr: str) -> list[ast.Call]:
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == attr]


def _chain(call: ast.Call) -> list[str]:
    """Attribute names along the method chain a call ends."""
    names, node = [], call.func
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def test_container_migration_is_one_observed_pass():
    """No counting pass and no schema-inference read in the container
    migration or the catch-up merge: no ``.count()``, and every
    ``read.parquet(`` carries ``.schema(``. The strong check is the one
    aggregate of ``same_documents`` — no ``exceptAll`` — and only
    ``verify_migration`` keeps its two ``count()``s, for callers that
    pass it bare DataFrames."""
    mig = ast.parse((PKG / "migration.py").read_text())
    funcs = {f.name: f for f in mig.body if isinstance(f, ast.FunctionDef)}
    scopes = {name: ast.parse((PKG / name).read_text())
              for name in ("orchestrator.py", "streaming/incremental.py")}
    scopes["migration.migrate_container"] = funcs["migrate_container"]
    for name, tree in scopes.items():
        assert not [c.lineno for c in _calls(tree, "count") if not c.args], \
            name
        inferred = [c.lineno for c in _calls(tree, "parquet")
                    if {"read", "readStream"} & set(_chain(c))
                    and "schema" not in _chain(c)]
        assert not inferred, name
    assert not [n for n in ast.walk(mig)
                if isinstance(n, ast.Attribute) and n.attr == "exceptAll"]
    assert len([c for c in _calls(funcs["verify_migration"], "count")
                if not c.args]) == 2
