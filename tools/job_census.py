#!/usr/bin/env python
"""Count the Spark jobs each registered query runs, by job tag.

Usage::

    python tools/job_census.py --sf-dir <tables dir, e.g. sf0.001> \
        [--warm] [name ...]

Each query's jobs carry one ``SparkContext.addJobTag`` tag while its
function builds the frame and another while ``collect()`` runs, so
"build" counts the jobs that run before a frame is returned (eager
counts, checkpoints, streams) and "collect" the jobs of consuming it.
Tags reach jobs started from stream threads and ``foreachBatch``
functions, where job groups do not.  ``--warm`` runs each query once
untagged first.  With no names, every registered query runs, in name
order.  Prints one JSON line per query and a closing ``total`` line.
The session is ``local[4]`` with 4 shuffle partitions, as in
``tests/conftest.py``: job counts depend on both.

The tests call :func:`census` on a live session
(``tests/test_graph.py::test_iterative_query_job_budget``).
"""
from __future__ import annotations

import argparse
import json
import sys
import time
import uuid
from os.path import abspath, dirname

sys.path.insert(0, dirname(dirname(abspath(__file__))))


def tagged_jobs(spark, tag: str) -> int:
    """Jobs run so far under ``tag``.  pyspark's ``StatusTracker`` has
    no ``getJobIdsForTag``; the JVM tracker has."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    return len(tracker.getJobIdsForTag(tag))


def census(spark, sf_dir: str, names, warm: bool = False) -> list[dict]:
    """``[{"query", "build_jobs", "collect_jobs", "build_s",
    "collect_s"}, ...]`` for ``names``, releasing every scope-registered
    cache after each query."""
    from sync_cosmos_db_spark.cache_scope import release_persisted
    from sync_cosmos_db_spark.queries import get_queries

    sc = spark.sparkContext
    queries = get_queries()
    run = uuid.uuid4().hex[:8]
    rows = []
    for i, name in enumerate(names):
        if warm:
            queries[name](spark, sf_dir).collect()
            release_persisted()
        row = {"query": name}
        df = None
        for phase in ("build", "collect"):
            tag = f"census-{run}-{i}-{phase}"
            sc.addJobTag(tag)
            t0 = time.perf_counter()
            try:
                if phase == "build":
                    df = queries[name](spark, sf_dir)
                else:
                    df.collect()
            finally:
                sc.removeJobTag(tag)
            row[f"{phase}_s"] = round(time.perf_counter() - t0, 3)
            row[f"{phase}_jobs"] = tagged_jobs(spark, tag)
        release_persisted()
        rows.append(row)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warm", action="store_true")
    args = ap.parse_args()

    from sync_cosmos_db_spark.queries import get_queries
    from sync_cosmos_db_spark.session import get_spark

    # The configuration tests/test_graph.py::JOB_BUDGET is counted at.
    spark = get_spark(app_name="job_census", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or sorted(get_queries())
    rows = census(spark, args.sf_dir, names, warm=args.warm)
    for row in rows:
        print(json.dumps(row), flush=True)
    print(json.dumps({
        "total": {k: sum(r[k] for r in rows) for k in
                  ("build_jobs", "collect_jobs")},
        "queries": len(rows)}))


if __name__ == "__main__":
    main()
