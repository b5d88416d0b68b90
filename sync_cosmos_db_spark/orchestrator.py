"""Orchestration: account → database → container loops (O23) + summary (O24).

The reference's ``main()`` dispatches three entry points by CLI scope
(``/root/reference/src/main.py:107-152``): full account, one database
(``--database``), one container (``--database --container``; container
without database is rejected at ``src/main.py:109-110``). The loops are
driver-side Python over catalog entries; each container migration is one
distributed Spark job — set-at-a-time, not the reference's one-RTT-per-
document loop.

Here the three scopes are one enumeration of ``(database, container)``
pairs. Divergences (documented): the reference's single-container path
skips ``create_database_if_not_exists`` and requires a pre-existing
target database (``src/main.py:114``, SURVEY.md §3 entry point 3); we
create it idempotently in every scope — strictly more robust, never
wrong.

100 TB posture: each container migration is already fully distributed;
``max_parallel`` additionally submits container jobs concurrently from
driver threads so many small containers don't serialize on job-launch
latency. Each submitted job inherits the caller's local properties (job
group, ``spark.scheduler.pool``), so on a shared cluster the caller can
put the whole migration in one fair scheduler pool.
"""

from __future__ import annotations

import time

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

from sync_cosmos_db_spark.document_model import (
    extract_pk_columns,
    strip_system_fields,
)
from sync_cosmos_db_spark.migration import (
    MigrationResult,
    check_pk_alignment,
    migrate_container,
    same_documents,
)
from sync_cosmos_db_spark.sinks import (
    merge_to_parquet,
    recover_swap,
    write_summary,
)
from sync_cosmos_db_spark.sources import catalog


def _prepare_merge_keys(src_df, tgt_df, pk_paths: list[str]):
    """Build the merge key (id + one column per pk path). A top-level
    source column is used as is; every other path (nested, or missing
    from the source) becomes an extracted ``__pk_i`` column on BOTH
    sides, NULL where it does not resolve, so those documents are
    quarantined. The full hierarchical key list is kept, never
    truncated to the first path (reference truncates at
    ``src/containers.py:16``; SURVEY.md §1.4)."""
    keys = ["id"] if "id" in src_df.columns else []
    extracted = []
    for p in pk_paths:
        parts = [x for x in p.strip("/").split("/") if x]
        if parts == ["id"]:
            continue
        if len(parts) == 1 and parts[0] in src_df.columns:
            keys.append(parts[0])
        else:
            extracted.append(p)
    src_df = extract_pk_columns(src_df, extracted)
    tgt_df = extract_pk_columns(tgt_df, extracted)
    return src_df, tgt_df, keys + [f"__pk_{i}" for i in range(len(extracted))]


def migrate_container_path(
    spark: SparkSession,
    source_root: str,
    target_root: str,
    database: str,
    container: str,
    sanitize: bool = False,
    strong_verify: bool = False,
    connector_options: dict[str, str] | None = None,
) -> MigrationResult:
    """Migrate one container between filesystem accounts (the harness
    form of ``src/main.py:30-56``): properties (O17) → pk pre-flight
    (O18) → DDL (O16) → classify+write (O6-O14) → verify (O21).

    One observed write per container: its observations give the
    counters and ``source_count``; ``target_count`` is the footer row
    count of the files that landed. Sources and targets are read with
    their footer schema, so no schema-inference job runs either. With
    ``strong_verify`` one multiset aggregate
    (``migration.same_documents``) is the only other job.

    ``connector_options`` (e.g. the ``spark.cosmos.throughputControl.*``
    RU bound from the CLI) is applied to the source/target reads — the
    place RU consumption happens on a real connector deployment. The
    parquet reader ignores unknown options, so the harness path is
    unaffected while the wiring stays live end-to-end.

    Rows of the target whose key the source lacks are kept
    (``migration.merge_target_state``); a swap that an earlier run left
    half done is repaired before the target is read."""
    tgt_path = catalog.container_data_path(target_root, database, container)
    recover_swap(tgt_path)
    src_props = catalog.get_container_properties(source_root, database,
                                                 container)
    tgt_exists = catalog.container_exists(target_root, database, container)
    if tgt_exists:
        tgt_props = catalog.get_container_properties(target_root, database,
                                                     container)
        check_pk_alignment(src_props["partition_key_paths"],
                           tgt_props["partition_key_paths"])

    catalog.create_container_if_not_exists(
        target_root, database, container, src_props)

    src_df = catalog.read_parquet(
        spark, catalog.container_data_path(source_root, database, container),
        connector_options)
    if tgt_exists:
        tgt_df = catalog.read_parquet(spark, tgt_path, connector_options)
    else:
        # an empty frame the optimizer can see is empty, so the classify
        # and merge joins against it are pruned away
        tgt_df = strip_system_fields(src_df).limit(0)

    src_orig = src_df
    src_df, tgt_df, keys = _prepare_merge_keys(
        src_df, tgt_df, src_props["partition_key_paths"])

    _, result = migrate_container(
        src_df, tgt_df, keys, container=container, sanitize=sanitize,
        writer=lambda state: merge_to_parquet(
            state.drop(*[c for c in state.columns
                         if c.startswith("__pk_")]), tgt_path),
    )

    # O21 with the reference's meaning: equal counts, plus equal content
    # under strong_verify, checked on the ORIGINAL source frame (the
    # extracted __pk_ merge columns are dropped from the written
    # target). Content-level verification is meaningless under
    # sanitization (written rows are deliberately different), so that
    # falls back to counts.
    result.target_count = catalog.footer_row_count(tgt_path)
    ok = result.source_count == result.target_count
    if ok and strong_verify and not sanitize:
        ok = same_documents(src_orig, catalog.read_parquet(spark, tgt_path))
    result.verified = ok
    if connector_options:
        result.extra["connector_options"] = dict(connector_options)
    return result


def migrate_account_path(
    spark: SparkSession,
    source_root: str,
    target_root: str,
    database: str | None = None,
    container: str | None = None,
    sanitize: bool = False,
    strong_verify: bool = False,
    summary_path: str | None = None,
    max_parallel: int = 1,
    connector_options: dict[str, str] | None = None,
) -> dict:
    """Scope dispatch like the reference (``src/main.py:107-152``): no
    scope → every database; ``database`` → one database; ``database`` +
    ``container`` → one container. ``container`` without ``database`` is
    an error (``src/main.py:109-110``).

    ``max_parallel > 1`` submits container migrations as concurrent
    Spark jobs from driver threads (SparkSession is thread-safe). Each
    container touches disjoint paths, so concurrency is safe; results
    are keyed, not ordered. The reference is strictly sequential — one
    document at a time, let alone one container."""
    if container is not None and database is None:
        raise ValueError("--container requires --database")

    start = time.monotonic()
    databases = ([database] if database is not None
                 else catalog.list_databases(source_root))
    pairs = []
    for db in databases:
        catalog.create_database_if_not_exists(target_root, db)
        pairs += [(db, c) for c in ([container] if container is not None
                                    else catalog.list_containers(
                                        source_root, db))]

    def run(db: str, c: str) -> MigrationResult:
        return migrate_container_path(
            spark, source_root, target_root, db, c, sanitize=sanitize,
            strong_verify=strong_verify, connector_options=connector_options)

    if max_parallel <= 1 or len(pairs) <= 1:
        done = [run(db, c) for db, c in pairs]
    else:
        from concurrent.futures import ThreadPoolExecutor

        # the wrapper copies the caller's local properties when it is
        # built, so build one per job in this thread
        with ThreadPoolExecutor(max_workers=max_parallel) as pool:
            futs = [pool.submit(inheritable_thread_target(spark)(run), db, c)
                    for db, c in pairs]
            done = [f.result() for f in futs]
    results: dict = {db: {} for db in databases}
    for (db, c), res in zip(pairs, done):
        results[db][c] = res

    summary = {
        "source_account": source_root,
        "target_account": target_root,
        "duration_sec": round(time.monotonic() - start, 3),
        "results": results,
    }
    if summary_path:
        write_summary(summary, summary_path)
    return summary
