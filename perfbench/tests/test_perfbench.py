"""Unit tests of the benchmark's own statistics, event-log aggregation
and attribution code.  They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import sys
import threading
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    Tracer,
    attribute_jobs,
    busy_seconds,
    layer_table,
    median,
    percentile,
    read_event_log,
    self_times,
)


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0
    ys = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2]
    assert median(ys) == pytest.approx(statistics.median(ys))
    # the quartiles of statistics.quantiles(method="inclusive")
    q1, _, q3 = statistics.quantiles(ys, n=4, method="inclusive")
    assert percentile(ys, 25) == pytest.approx(q1)
    assert percentile(ys, 75) == pytest.approx(q3)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def _event_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _task(stage, run_ms, cpu_ns, **extra):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
         "JVM GC Time": 5,
         "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                  "Local Bytes Read": 30},
         "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
         "Disk Bytes Spilled": 0,
         "Input Metrics": {"Bytes Read": 1000},
         "Output Metrics": {"Bytes Written": 0}}
    m.update(extra)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": m}


def test_read_event_log_sums_task_metrics_per_job(tmp_path):
    path = tmp_path / "app-1"
    _event_log(path, [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000_000, "Stage IDs": [0, 1]},
        _task(0, 200, 150_000_000),
        _task(1, 300, 250_000_000, **{"Disk Bytes Spilled": 4096}),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1_000_900},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1_002_000, "Stage IDs": [2]},
        _task(2, 50, 40_000_000),
        # a task of an unknown stage is ignored
        _task(9, 999, 999),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 1_002_100},
    ])
    jobs = read_event_log(str(path))
    assert [j.id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert (j0.start, j0.end) == (1000.0, 1000.9)
    assert j0.stages == [0, 1]
    assert j0.tasks == 2
    assert j0.run_s == pytest.approx(0.5)
    assert j0.cpu_s == pytest.approx(0.4)
    assert j0.gc_s == pytest.approx(0.01)
    assert j0.shuffle_read_b == 80
    assert j0.shuffle_write_b == 200
    assert j0.spill_b == 4096
    assert j0.scan_b == 2000
    assert j1.tasks == 1 and j1.run_s == pytest.approx(0.05)


def test_job_without_end_event_gets_zero_length(tmp_path):
    path = tmp_path / "app-2"
    _event_log(path, [{"Event": "SparkListenerJobStart", "Job ID": 3,
                       "Submission Time": 5000, "Stage IDs": []}])
    (job,) = read_event_log(str(path))
    assert job.end == job.start == 5.0


def test_attribute_jobs_by_submission_time():
    jobs = [tracing.Job(i, start) for i, start in
            enumerate([0.5, 1.5, 2.0, 2.5, 3.5, 9.0])]
    ops = [(10, 1.0, 2.0), (11, 2.2, 3.0), (12, 3.0, 4.0)]
    got = attribute_jobs(jobs, ops)
    assert [j.id for j in got[10]] == [1, 2]   # both ends inclusive
    assert [j.id for j in got[11]] == [3]
    assert [j.id for j in got[12]] == [4]
    # jobs outside every operation (0.5 and 9.0) are left out
    assert sum(len(v) for v in got.values()) == 4


def test_busy_seconds_is_the_clipped_union():
    iv = [(0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (3.5, 3.6)]
    assert busy_seconds(iv, 0.0, 10.0) == pytest.approx(3.0)
    assert busy_seconds(iv, 1.5, 3.5) == pytest.approx(1.0)
    assert busy_seconds([], 0.0, 1.0) == 0.0


def test_self_times_subtract_direct_children():
    spans = [Span(0, "op", "queries", 0.0, 10.0),
             Span(1, "a", "operators.dedup", 1.0, 4.0, parent=0),
             Span(2, "b", "session", 2.0, 3.0, parent=1),
             Span(3, "c", "operators.dedup", 5.0, 6.0, parent=0)]
    st = self_times(spans)
    assert st == {0: pytest.approx(6.0), 1: pytest.approx(2.0),
                  2: pytest.approx(1.0), 3: pytest.approx(1.0)}
    table = layer_table(spans)
    assert table["operators.dedup"] == {"self_s": pytest.approx(3.0),
                                        "calls": 2}
    # self times add back up to the root span's wall time
    assert sum(r["self_s"] for r in table.values()) == pytest.approx(10.0)


def _fake_module(name):
    mod = types.ModuleType(name)
    exec("def work(x):\n    return helper(x) + 1\n"
         "def helper(x):\n    return 2 * x\n"
         "def _private(x):\n    return x\n", mod.__dict__)
    for f in ("work", "helper", "_private"):
        getattr(mod, f).__module__ = name
    return mod


def test_install_wraps_public_functions_and_nests_spans(monkeypatch):
    name = f"{tracing.PKG}.operators.fake"
    mod = _fake_module(name)
    monkeypatch.setitem(sys.modules, name, mod)
    tr = Tracer()
    assert tr.install() >= 2
    try:
        with tr.span("op", "queries"):
            assert mod.work(3) == 7
        assert mod._private(1) == 1
    finally:
        tr.uninstall()
    names = [s.name for s in tr.spans]
    assert names == ["op", "operators.fake.work", "operators.fake.helper"]
    op, work, helper = tr.spans
    assert work.parent == op.id and helper.parent == work.id
    assert not isinstance(mod.work, tracing._Traced)


def test_span_on_another_thread_nests_under_the_caller():
    tr = Tracer()
    with tr.span("caller", "streaming.incremental"):
        t = threading.Thread(target=lambda: tr.span("batch", "migration")
                             .__enter__())
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    caller, batch = tr.spans
    assert batch.parent == caller.id


def test_traced_function_pickles_as_the_module_attribute(monkeypatch):
    name = "perfbench_pickle_probe"
    mod = _fake_module(name)
    monkeypatch.setitem(sys.modules, name, mod)
    wrapped = tracing._Traced(Tracer(), mod.helper, "x", "x.helper")
    monkeypatch.setattr(mod, "helper", wrapped)
    blob = pickle.dumps(wrapped)
    # pickled by module + name: where the module attribute is the
    # original function (a Python worker imports the module afresh),
    # it unpickles to the original, never to the tracer
    monkeypatch.setattr(mod, "helper", wrapped.__wrapped__)
    assert pickle.loads(blob) is wrapped.__wrapped__


def test_result_line_names_match_benchmark_json():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in bench["per_layer"]] == list(run.LAYER)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == run._unit(m["name"])
    result = {"e2e": {k: 1.0 for k in run.E2E}}
    assert set(run._emit(result, trace=False)) == set(run.E2E)


def test_account_expectations_are_consistent_and_seeded(tmp_path):
    import datagen
    import pyarrow.parquet as pq

    tables = tmp_path / "tables"
    datagen.make_tables(str(tables), 0.001)
    a = datagen.make_account(str(tables), str(tmp_path / "a"), seed=1)
    b = datagen.make_account(str(tables), str(tmp_path / "b"), seed=1)
    c = datagen.make_account(str(tables), str(tmp_path / "c"), seed=2)
    assert a == b
    assert a != c
    for key, e in a["containers"].items():
        assert (e["inserted"] + e["updated"] + e["skipped"] + e["errors"]
                == e["source_docs"])
        want = pq.read_table(tmp_path / "a" / "expected" / f"{key}.parquet")
        ids = want["id"].to_pylist()
        assert len(ids) == len(set(ids)) == e["source_docs"] - e["errors"]
    # the container absent from the target: every valid document is new
    docs = a["containers"]["crm.documents"]
    assert docs["updated"] == docs["skipped"] == 0
    cu = a["catchup"]
    assert cu["final_docs"] == (cu["base_docs"] + cu["deltas"]
                                * (cu["docs_per_delta"]
                                   - cu["docs_per_delta"] // 2))


def test_saved_pass_s_reads_the_untraced_run_of_the_same_seed(tmp_path):
    import run

    work = str(tmp_path)
    assert run._saved_pass_s(work, "migrate", 3) is None
    run._save(work, "migrate", 3, False, {"e2e": {"pass_s": 12.5}})
    run._save(work, "migrate", 4, True, {"e2e": {"pass_s": 99.0}})
    assert run._saved_pass_s(work, "migrate", 3) == 12.5
    assert run._saved_pass_s(work, "migrate", 4) is None


def test_steal_share_is_the_steal_column_over_all_ticks():
    import run

    before = [100, 0, 50, 800, 0, 0, 10, 40, 0, 0]
    after = [160, 0, 70, 900, 0, 0, 10, 60, 0, 0]
    assert run._steal_share(before, after) == pytest.approx(20 / 200)
    assert run._steal_share([], after) is None
    assert run._steal_share(before, before) is None
