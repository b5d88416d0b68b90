"""Orchestration-layer tests (O4/O5, O13-O18, O21, O23, O24): the golden
migration scenario of SURVEY.md §5.2 — known insert/update/skip/error
composition, exact counter quadruple, idempotent re-run — plus scope
dispatch and the pk-alignment abort."""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sync_cosmos_db_spark.orchestrator import (
    migrate_account_path,
    migrate_container_path,
)
from sync_cosmos_db_spark.sources import catalog


def _write(spark, rows, schema, path):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(path)


def _reset_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _jobs_in(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted in a job group
    of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        _reset_job_group(sc)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def account(spark, tmp_path):
    """Source account with 2 dbs; target pre-seeded so container ``emp``
    yields exactly: 2 inserts (ids 4,5), 1 update (id 2), 2 skips
    (ids 1,3), 1 error (null id)."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    schema = "id string, dept string, salary long"
    catalog.create_database_if_not_exists(src, "hr")
    catalog.create_container_if_not_exists(src, "hr", "emp",
                                           {"partition_key_paths": ["/dept"]})
    _write(spark, [
        ("1", "eng", 100), ("2", "eng", 220), ("3", "ops", 300),
        ("4", "ops", 400), ("5", "eng", 500), (None, "eng", 600),
    ], schema, catalog.container_data_path(src, "hr", "emp"))

    catalog.create_database_if_not_exists(tgt, "hr")
    catalog.create_container_if_not_exists(tgt, "hr", "emp",
                                           {"partition_key_paths": ["/dept"]})
    _write(spark, [
        ("1", "eng", 100), ("2", "eng", 200), ("3", "ops", 300),
    ], schema, catalog.container_data_path(tgt, "hr", "emp"))

    catalog.create_database_if_not_exists(src, "sales")
    catalog.create_container_if_not_exists(src, "sales", "leads")
    _write(spark, [("a", "x", 1), ("b", "y", 2)], schema,
           catalog.container_data_path(src, "sales", "leads"))
    return src, tgt


def test_catalog_listing(account):
    src, _ = account
    assert catalog.list_databases(src) == ["hr", "sales"]  # O4
    assert catalog.list_containers(src, "hr") == ["emp"]   # O5
    props = catalog.get_container_properties(src, "hr", "emp")  # O17
    assert props["partition_key_paths"] == ["/dept"]
    missing = catalog.get_container_properties(src, "hr", "nope")
    assert missing["partition_key_paths"] == ["/id"]  # reference fallback


def test_golden_counter_quadruple(spark, account):
    src, tgt = account
    res = migrate_container_path(spark, src, tgt, "hr", "emp")
    assert (res.inserted, res.updated, res.skipped, res.errors) == (2, 1, 2, 1)
    assert res.verified is False  # error row excluded: 6 src vs 5 tgt
    assert res.source_count == 6 and res.target_count == 5

    # target now holds the merged state
    merged = spark.read.parquet(
        catalog.container_data_path(tgt, "hr", "emp"))
    got = {r.id: r.salary for r in merged.collect()}
    assert got == {"1": 100, "2": 220, "3": 300, "4": 400, "5": 500}


def test_idempotent_second_run_all_skip(spark, account):
    src, tgt = account
    migrate_container_path(spark, src, tgt, "hr", "emp")
    res2 = migrate_container_path(spark, src, tgt, "hr", "emp")
    assert (res2.inserted, res2.updated, res2.skipped) == (0, 0, 5)


def test_account_scope_and_summary(spark, account, tmp_path):
    src, tgt = account
    summary_path = str(tmp_path / "out" / "migration_summary.json")
    summary = migrate_account_path(spark, src, tgt,
                                   summary_path=summary_path)
    assert set(summary["results"]) == {"hr", "sales"}
    leads = summary["results"]["sales"]["leads"]
    assert leads.inserted == 2 and leads.verified is True  # fresh target
    with open(summary_path) as f:
        on_disk = json.load(f)  # O24: JSON-serializable end to end
    assert on_disk["results"]["hr"]["emp"]["updated"] == 1


def test_account_e2e_full_counter_tree(spark, account, tmp_path):
    """Round-8 verdict item 7 — the reference's WHOLE-program behavior
    (``src/main.py:83-160``) in one committed flow: a two-database
    account migration whose on-disk ``migration_summary.json`` must
    carry the complete expected counter tree (every counter of every
    container, not one spot value), and an immediate second run must be
    all-skip with counts verified — the reference's idempotent-rerun
    contract at ACCOUNT scope."""
    src, tgt = account
    summary_path = str(tmp_path / "e2e" / "migration_summary.json")
    migrate_account_path(spark, src, tgt, summary_path=summary_path)
    with open(summary_path) as f:
        on_disk = json.load(f)

    def counters(db, c):
        r = on_disk["results"][db][c]
        return {k: r[k] for k in ("inserted", "updated", "skipped",
                                  "errors", "verified",
                                  "source_count", "target_count")}

    assert set(on_disk["results"]) == {"hr", "sales"}
    assert counters("hr", "emp") == {
        "inserted": 2, "updated": 1, "skipped": 2, "errors": 1,
        "verified": False,       # the null-id row never reaches the tgt
        "source_count": 6, "target_count": 5}
    assert counters("sales", "leads") == {
        "inserted": 2, "updated": 0, "skipped": 0, "errors": 0,
        "verified": True, "source_count": 2, "target_count": 2}
    assert on_disk["source_account"] == src
    assert on_disk["duration_sec"] >= 0

    rerun_path = str(tmp_path / "e2e" / "migration_summary_2.json")
    migrate_account_path(spark, src, tgt, summary_path=rerun_path)
    with open(rerun_path) as f:
        second = json.load(f)
    emp2 = second["results"]["hr"]["emp"]
    leads2 = second["results"]["sales"]["leads"]
    # everything that landed the first time is now a content-hash skip
    assert (emp2["inserted"], emp2["updated"], emp2["skipped"],
            emp2["errors"]) == (0, 0, 5, 1)
    assert (leads2["inserted"], leads2["updated"],
            leads2["skipped"]) == (0, 0, 2)
    assert leads2["verified"] is True


def test_container_requires_database(spark, account):
    src, tgt = account
    with pytest.raises(ValueError, match="requires --database"):
        migrate_account_path(spark, src, tgt, container="emp")


def test_pk_alignment_abort(spark, account):
    src, tgt = account
    # corrupt target properties to a different pk path (O18)
    props_path = catalog.container_data_path(
        tgt, "hr", "emp")[: -len(".parquet")] + ".properties.json"
    with open(props_path, "w") as f:
        json.dump({"partition_key_paths": ["/other"]}, f)
    with pytest.raises(ValueError, match="do not match"):
        migrate_container_path(spark, src, tgt, "hr", "emp")


def test_sanitize_only_written_rows(spark, account):
    src, tgt = account
    migrate_container_path(spark, src, tgt, "hr", "emp", sanitize=True)
    merged = spark.read.parquet(
        catalog.container_data_path(tgt, "hr", "emp"))
    got = {r.id: r.dept for r in merged.collect()}
    # dept is not a PII field; salary neither — sanitize must not change
    # them. (PII-field behavior is covered in test_sanitizer.py; here we
    # assert the skip rows pass through byte-identical.)
    assert got["1"] == "eng" and got["3"] == "ops"


def test_cli_single_container(spark, account, tmp_path, capsys):
    src, tgt = account
    from sync_cosmos_db_spark.__main__ import main
    rc = main(["--source-root", src, "--target-root", tgt,
               "--database", "sales", "--container", "leads",
               "--summary", str(tmp_path / "s.json")])
    assert rc == 0
    assert json.loads((tmp_path / "s.json").read_text())[
        "results"]["sales"]["leads"]["inserted"] == 2


def test_hierarchical_nested_pk_migration(spark, tmp_path):
    """SURVEY §1.4: nested pk path ('/meta/dept') is extracted on both
    sides and used in the merge key — never truncated; null nested pk
    values quarantine as errors like the reference's validity skip."""
    src = str(tmp_path / "nsrc")
    tgt = str(tmp_path / "ntgt")
    schema = ("id string, val long, "
              "meta struct<dept: string, site: string>")
    catalog.create_database_if_not_exists(src, "db")
    catalog.create_container_if_not_exists(
        src, "db", "c", {"partition_key_paths": ["/meta/dept"]})
    rows = [
        ("1", 10, ("eng", "a")), ("2", 20, ("ops", "b")),
        ("3", 30, (None, "c")),          # null nested pk -> error
    ]
    _write(spark, rows, schema, catalog.container_data_path(src, "db", "c"))

    res = migrate_container_path(spark, src, tgt, "db", "c")
    assert (res.inserted, res.updated, res.skipped, res.errors) == (2, 0, 0, 1)
    merged = spark.read.parquet(catalog.container_data_path(tgt, "db", "c"))
    assert set(merged.columns) == {"id", "val", "meta"}  # no __pk_ leakage
    assert {r.id for r in merged.collect()} == {"1", "2"}
    # second run: all skip
    res2 = migrate_container_path(spark, src, tgt, "db", "c")
    assert (res2.inserted, res2.updated, res2.skipped) == (0, 0, 2)


def test_cosmos_facade_gates_without_connector(spark):
    """The production facade must build configs without the jar and fail
    with a clear message on any real I/O attempt."""
    import pytest as _pytest

    from sync_cosmos_db_spark.sources import cosmos as CZ

    cfg = CZ.base_config("https://acct.documents.azure.com:443/", "key",
                         "db", "c")
    assert cfg["spark.cosmos.container"] == "c"
    assert not CZ.connector_available(spark)
    with _pytest.raises(NotImplementedError, match="connector jar"):
        CZ.read_container(spark, "e", "k", "db", "c")


def test_parallel_database_migration(spark, tmp_path):
    """max_parallel>1 submits concurrent container jobs; results must be
    identical to the sequential path."""
    src = str(tmp_path / "psrc")
    schema = "id string, v long"
    for c in ["c1", "c2", "c3"]:
        catalog.create_container_if_not_exists(src, "db", c)
        _write(spark, [(f"{c}-{i}", i) for i in range(10)],
               schema, catalog.container_data_path(src, "db", c))

    seq = migrate_account_path(spark, src, str(tmp_path / "t1"),
                               database="db")["results"]["db"]
    par = migrate_account_path(spark, src, str(tmp_path / "t2"),
                               database="db", max_parallel=3)["results"]["db"]
    assert set(seq) == set(par) == {"c1", "c2", "c3"}
    for c in seq:
        assert (seq[c].inserted, seq[c].errors) == (10, 0)
        assert (par[c].inserted, par[c].verified) == (10, True)


def test_parallel_jobs_inherit_caller_job_group(spark, tmp_path):
    """Container jobs submitted from pool threads run in the caller's
    job group (and so in its scheduler pool)."""
    src = str(tmp_path / "gsrc")
    for c in ["c1", "c2"]:
        catalog.create_container_if_not_exists(src, "db", c)
        _write(spark, [(f"{c}-{i}", i) for i in range(5)],
               "id string, v long", catalog.container_data_path(src, "db", c))
    sc = spark.sparkContext
    group = "parallel-migrate-job-group"
    sc.setJobGroup(group, "parallel migrate")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        out = migrate_account_path(spark, src, str(tmp_path / "gtgt"),
                                   database="db", max_parallel=2)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        _reset_job_group(sc)
    assert {c: r.inserted for c, r in out["results"]["db"].items()} \
        == {"c1": 5, "c2": 5}
    assert after - before


def test_interrupted_swap_restores_old_target(spark, account):
    """A run that died between the two renames of the target swap left
    only ``<target>.__old__`` and a partial ``__new__``: the next run
    restores the old target, so it classifies against it (skips and
    updates, not all inserts) and keeps its target-only document."""
    src, tgt = account
    data = catalog.container_data_path(tgt, "hr", "emp")
    _write(spark, [("1", "eng", 100), ("2", "eng", 200), ("3", "ops", 300),
                   ("9", "ops", 900)],
           "id string, dept string, salary long", data)
    os.rename(data, data + ".__old__")
    os.makedirs(data + ".__new__")
    with open(os.path.join(data + ".__new__", "part-00000.parquet"),
              "wb") as f:
        f.write(b"partial")

    res = migrate_container_path(spark, src, tgt, "hr", "emp")
    assert (res.inserted, res.updated, res.skipped, res.errors) == (2, 1, 2, 1)
    got = {r.id: r.salary for r in spark.read.parquet(data).collect()}
    assert got == {"1": 100, "2": 220, "3": 300, "4": 400, "5": 500,
                   "9": 900}
    assert not os.path.exists(data + ".__old__")
    assert not os.path.exists(data + ".__new__")


def test_nested_pk_strong_verify_and_crash_recovery(spark, tmp_path):
    """Regression: strong verification must work with nested pk paths
    (no leakage of synthetic merge columns into the check), and a stale
    __old__ dir from a crashed run must not wedge the next one."""
    import os

    src = str(tmp_path / "vsrc")
    tgt = str(tmp_path / "vtgt")
    schema = "id string, val long, meta struct<dept: string>"
    catalog.create_database_if_not_exists(src, "db")
    catalog.create_container_if_not_exists(
        src, "db", "c", {"partition_key_paths": ["/meta/dept"]})
    _write(spark, [("1", 1, ("a",)), ("2", 2, ("b",))], schema,
           catalog.container_data_path(src, "db", "c"))

    res = migrate_container_path(spark, src, tgt, "db", "c",
                                 strong_verify=True)
    assert res.verified is True

    # simulate a crash that left __old__ behind, then re-run
    tgt_data = catalog.container_data_path(tgt, "db", "c")
    os.makedirs(tgt_data + ".__old__/junk")
    res2 = migrate_container_path(spark, src, tgt, "db", "c",
                                  strong_verify=True)
    assert res2.verified is True and res2.skipped == 2
    assert not os.path.exists(tgt_data + ".__old__")


def test_sanitize_with_strong_verify_counts_only(spark, account):
    src, tgt = account
    res = migrate_container_path(spark, src, tgt, "hr", "emp",
                                 sanitize=True, strong_verify=True)
    # content-level check is intentionally skipped under sanitization;
    # count check still runs (error row -> counts differ -> False)
    assert res.verified is False and res.source_count == 6


def test_cli_retry_and_throughput_knobs(spark, account, tmp_path, capsys):
    """Round-1 verdict item 8: the reference's --max-retries/--batch-size
    pacing knobs surface as their Spark-native equivalents."""
    src, tgt = account
    from sync_cosmos_db_spark.__main__ import (
        connector_write_options, get_args, main)

    rc = main(["--source-root", src, "--target-root", tgt,
               "--database", "sales", "--container", "leads",
               "--summary", str(tmp_path / "s.json"),
               "--max-task-failures", "8",
               "--throughput-target-ru", "4000"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["connector_options"] == {
        "spark.cosmos.throughputControl.enabled": "true",
        "spark.cosmos.throughputControl.name": "sync-cosmos-db-spark",
        "spark.cosmos.throughputControl.targetThroughput": "4000",
    }

    # fraction form maps to the threshold option
    args = get_args(["--source-root", "a", "--target-root", "b",
                     "--throughput-target-fraction", "0.5"])
    opts = connector_write_options(args)
    assert opts["spark.cosmos.throughputControl."
                "targetThroughputThreshold"] == "0.5"
    # retry budget maps to spark.task.maxFailures session conf
    assert args.throughput_target_ru is None
    assert get_args(["--source-root", "a", "--target-root", "b",
                     "--max-task-failures", "6"]).max_task_failures == 6


def test_cli_throughput_flags_mutually_exclusive(capsys):
    from sync_cosmos_db_spark.__main__ import get_args

    with pytest.raises(SystemExit):
        get_args(["--source-root", "a", "--target-root", "b",
                  "--throughput-target-ru", "1000",
                  "--throughput-target-fraction", "0.5"])
    capsys.readouterr()


def test_throughput_control_requires_exactly_one_bound():
    from sync_cosmos_db_spark.sources.cosmos import throughput_control

    with pytest.raises(ValueError, match="exactly one"):
        throughput_control()
    with pytest.raises(ValueError, match="exactly one"):
        throughput_control(target_ru=100, target_ru_fraction=0.5)


def test_missing_flat_pk_quarantines_documents(spark, tmp_path):
    """A partition-key path the source schema lacks reads as NULL, so
    every document is invalid and counted in ``errors`` (reference
    ``src/migration.py:101-109``), not migrated under a key without
    that path."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    catalog.create_container_if_not_exists(
        src, "db", "c", {"partition_key_paths": ["/tenant"]})
    _write(spark, [("1", 10), ("2", 20)], "id string, val long",
           catalog.container_data_path(src, "db", "c"))
    res = migrate_container_path(spark, src, tgt, "db", "c")
    assert (res.inserted, res.updated, res.skipped, res.errors) == (0, 0, 0, 2)
    assert (res.verified, res.source_count, res.target_count) == (False, 2, 0)


#: Spark jobs per container migration as (fresh target, rerun): the
#: write alone, plus one multiset aggregate under ``strong_verify``.
JOB_BUDGET = {False: (1, 3), True: (3, 5)}


@pytest.mark.parametrize("strong", [False, True], ids=["counts", "strong"])
def test_container_job_budget(spark, tmp_path, strong):
    """One observed write per container, and under ``strong_verify`` one
    content check: no count, schema-inference or re-read job."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    catalog.create_container_if_not_exists(
        src, "db", "c", {"partition_key_paths": ["/dept"]})
    _write(spark, [(str(i), "eng" if i % 2 else "ops", i)
                   for i in range(500)],
           "id string, dept string, salary long",
           catalog.container_data_path(src, "db", "c"))
    for run, budget in zip(("fresh", "rerun"), JOB_BUDGET[strong]):
        res, jobs = _jobs_in(spark, lambda: migrate_container_path(
            spark, src, tgt, "db", "c", strong_verify=strong))
        assert res.verified is True and res.target_count == 500
        assert jobs <= budget, f"{run}: {jobs} jobs > {budget}"


def _nested_invalid(spark, root):
    catalog.create_container_if_not_exists(
        root, "db", "n", {"partition_key_paths": ["/meta/dept"]})
    _write(spark, [("1", 10, ("eng",)), ("2", 20, (None,)),
                   (None, 30, ("ops",)), ("4", 40, ("",))],
           "id string, val long, meta struct<dept: string>",
           catalog.container_data_path(root, "db", "n"))
    return "db", "n", "/meta/dept"


def _empty(spark, root):
    catalog.create_container_if_not_exists(
        root, "db", "e", {"partition_key_paths": ["/dept"]})
    _write(spark, [], "id string, dept string, salary long",
           catalog.container_data_path(root, "db", "e"))
    return "db", "e", "/dept"


@pytest.mark.parametrize("case", ["golden", "nested_invalid", "empty"])
def test_observed_counts_equal_count(spark, account, tmp_path, case):
    """The write's observations and the footer row count give what
    ``count()`` passes over the source and the new target give."""
    from sync_cosmos_db_spark.document_model import (
        extract_pk_columns,
        split_valid_invalid,
    )

    src, tgt = account
    db, c, pk = {"golden": lambda *_: ("hr", "emp", "/dept"),
                 "nested_invalid": _nested_invalid,
                 "empty": _empty}[case](spark, src)
    res = migrate_container_path(spark, src, tgt, db, c)

    source = spark.read.parquet(catalog.container_data_path(src, db, c))
    invalid = split_valid_invalid(extract_pk_columns(source, [pk]), "id",
                                  ["__pk_0"])[1]
    target = spark.read.parquet(catalog.container_data_path(tgt, db, c))
    assert (res.source_count, res.errors, res.target_count) == (
        source.count(), invalid.count(), target.count())
    assert res.inserted + res.updated + res.skipped == \
        source.count() - invalid.count()
    if case == "empty":
        assert res.verified is True
        assert (res.inserted, res.updated, res.skipped, res.errors,
                res.source_count, res.target_count) == (0,) * 6


def _catchup_target(spark, tmp_path):
    from sync_cosmos_db_spark.streaming.incremental import (
        incremental_migrate,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "bucketed")
    spark.createDataFrame([(str(i), i) for i in range(20)],
                          "id string, val long").coalesce(1).write \
        .parquet(feed)
    incremental_migrate(spark, feed, out, ["id"], "id string, val long",
                        str(tmp_path / "ckpt"), n_buckets=4)
    return out


def test_footer_schema_equals_inferred(spark, account, tmp_path):
    """``catalog.read_parquet`` plans with no job and yields Spark's
    inferred schema and rows: for a Spark-written and a pyarrow-written
    flat container, a struct-pk container, a Spark-written target and a
    hive-partitioned catch-up target (whose ``__kb`` column is still
    discovered from the paths)."""
    src, tgt = account
    arrow_flat = str(tmp_path / "arrow.parquet")
    os.makedirs(arrow_flat)
    pq.write_table(pa.table({
        "id": ["a", "b"], "n": pa.array([1, 2], pa.int32()),
        "addr": [{"city": "x", "zip": 1}, None],
        "tags": [["p"], []],
        "ts": pa.array([1, 2], pa.timestamp("us", tz="UTC"))}),
        f"{arrow_flat}/part-00000.parquet")
    db, c, _ = _nested_invalid(spark, src)
    migrate_container_path(spark, src, tgt, "hr", "emp")
    paths = {
        "flat": catalog.container_data_path(src, "hr", "emp"),
        "arrow_flat": arrow_flat,
        "struct_pk": catalog.container_data_path(src, db, c),
        "target": catalog.container_data_path(tgt, "hr", "emp"),
        "catchup": _catchup_target(spark, tmp_path),
    }
    for name, path in paths.items():
        inferred = spark.read.parquet(path)
        read, jobs = _jobs_in(spark, lambda: catalog.read_parquet(spark, path))
        assert jobs == 0, name
        assert read.schema == inferred.schema, name
        assert sorted(map(str, read.collect())) == \
            sorted(map(str, inferred.collect())), name
        assert catalog.footer_row_count(path) == inferred.count(), name
    assert spark.read.parquet(paths["catchup"]).schema["__kb"].dataType \
        .simpleString() == "int"

    # a type Spark reads otherwise than Arrow (uint32 -> bigint) falls
    # back to Spark's inference
    unsigned = str(tmp_path / "unsigned.parquet")
    os.makedirs(unsigned)
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32())}),
                   f"{unsigned}/part-00000.parquet")
    assert catalog.footer_schema(unsigned) is None
    assert catalog.read_parquet(spark, unsigned).schema == \
        spark.read.parquet(unsigned).schema
