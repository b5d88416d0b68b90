#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke      # every workload once at sf0.001, checked

One client runs the workload's operations in a closed loop on
``local[<cpus>]``: a query workload's cold pass, then measured passes
until ``--seconds`` have elapsed, at least one (``migrate`` is a
one-shot job and measures its first pass).
Set-up (JVM launch and session start, registry import, read-plan
sniff, Python worker spin-up) is measured once, cold, in the run's own
process.  Every result is checked outside the timed region.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``.  A traced run traces the passes
an untraced run measures, and writes its spans and a per-layer
self-time table under ``.perfbench_work/results/``.

Inputs are generated under ``.perfbench_work/`` in the current
directory; nothing is read or written outside it.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402
from tracing import (  # noqa: E402
    Tracer,
    attribute_jobs,
    busy_seconds,
    layer_table,
    make_stream_listener,
    median,
    percentile,
    read_event_log,
    self_times,
)

#: The metrics of the result line: end to end (``--trace 0``) and per
#: layer (``--trace 1``).  Every one is non-zero on every workload; the
#: figures that apply to one workload only are printed and saved.
E2E = ("setup_s", "pass_s", "cold_pass_s")
LAYER = (
    "session.start_s", "session.load_table_s", "driver.s", "jobs.s",
    "jobs.count", "stages.count", "tasks.count", "executor.run_s",
    "executor.cpu_s", "executor.gc_s", "executor.busy_ratio",
    "shuffle.read_mb", "shuffle.write_mb", "scan.read_mb",
    "queries.self_s", "execute.self_s", "operators.self_s",
    "cache_scope.self_s", "document_model.self_s", "migration.self_s",
    "sanitizer.self_s",
)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _reset_peak_rss() -> None:
    """Reset this process's peak RSS to its current RSS."""
    with contextlib.suppress(OSError), open("/proc/self/clear_refs",
                                            "w") as fh:
        fh.write("5")


def _children(pid: int) -> list[int]:
    """Direct child processes of ``pid``."""
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(p))
    return out


def _alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _live_spark_jvms() -> int:
    """Spark JVMs on the host other than this run's own (diagnostic)."""
    mine = set(_descendants(os.getpid()))
    n = 0
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in mine:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "org.apache.spark" in cmd and "java" in cmd.split("\x00")[0]:
            n += 1
    return n


def _cpu_times() -> list[int]:
    """The host's aggregate CPU times (``/proc/stat``), in ticks."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times()`` readings (diagnostic: a host that slows down)."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else None


def _host_probe() -> float:
    """Seconds for a fixed single-threaded pure-Python loop: the host's
    speed at that moment (diagnostic; it touches no repository code)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def _calibration_probes(spark) -> dict[str, float]:
    """One reading of each of ``bench.py``'s two fixed host probes: a
    pure-JVM 200M-row hash aggregate and 256 short tasks plus one
    shuffle.  They touch no repository code."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(0, 200_000_000, 1, 32)
     .agg(F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_003)))).collect())
    t1 = time.perf_counter()
    (spark.range(0, 4_000_000, 1, 256)
     .groupBy(F.pmod(F.xxhash64("id"), F.lit(997)).alias("k"))
     .agg(F.count(F.lit(1)).alias("n")).agg(F.sum("n")).collect())
    t2 = time.perf_counter()
    return {"cpu_probe_s": t1 - t0, "shuffle_probe_s": t2 - t1}


def ensure_tables(work: str, sf: float) -> str:
    """Generated tables for ``sf``, cached per generator version."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(work, "tables", f"sf{sf}-{version}")
    if not os.path.isdir(path):
        staging = f"{path}.tmp-{os.getpid()}"
        datagen.make_tables(staging, sf)
        try:
            os.rename(staging, path)
        except OSError:  # a concurrent run finished first
            shutil.rmtree(staging, ignore_errors=True)
    return path


class Run:
    """One workload run: inputs, Spark session, passes, checks."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 sf: float, work: str):
        self.name, self.seed, self.seconds = name, seed, seconds
        self.trace, self.sf = trace, sf
        self.work = work
        self.tmp = os.path.join(work, f"run-{os.getpid()}-{name}")
        self.workload = workloads.make(name)
        self.workload.ctx = self
        self.spark = None
        self.tracer: Tracer | None = None
        self.span = lambda *a: contextlib.nullcontext()
        self.released = 0
        self.errors: dict[str, str] = {}
        self.failed_ops = 0
        self.attempted = 0
        self.op_log: list[dict] = []
        self.stream_progress: list[dict] = []
        self.failed_names: set[str] = set()
        self.py_peak_kb = 0
        self.main_thread = threading.get_ident()

    # -- inputs ---------------------------------------------------------
    def prepare_inputs(self) -> None:
        os.makedirs(self.tmp, exist_ok=True)
        for k in ("TMPDIR", "TEMP", "TMP"):
            os.environ[k] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark")
        # every JVM (the launcher and the driver) keeps its temp files
        # and no perf-data file outside the work directory
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}")
        os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
        self.tables_dir = ensure_tables(self.work, self.sf)
        if isinstance(self.workload, workloads.MigrateWorkload):
            self.account_dir = os.path.join(self.tmp, "account")
            self.workload.expect = datagen.make_account(
                self.tables_dir, self.account_dir, self.seed)

    def conf(self) -> dict[str, str]:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            self.event_dir = os.path.join(self.tmp, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """The cold set-up a user of the package pays once per process:
        JVM launch and session start, registry import, read-plan sniff
        and Python worker spin-up."""
        t0 = time.perf_counter()
        from sync_cosmos_db_spark.session import get_spark, load_table
        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               extra_conf=self.conf())
        t1 = time.perf_counter()
        from sync_cosmos_db_spark.queries import get_oracle_sql, get_queries
        self.queries, self.oracles = get_queries(), get_oracle_sql()
        if isinstance(self.workload, workloads.MigrateWorkload):
            from sync_cosmos_db_spark import orchestrator  # noqa: F401
            from sync_cosmos_db_spark.streaming import (  # noqa: F401
                incremental,
            )
        t2 = time.perf_counter()
        if isinstance(self.workload, workloads.QueryWorkload):
            for t in datagen.TABLES:
                load_table(self.spark, self.tables_dir, t)
        else:
            for p in self.workload.source_paths():
                self.spark.read.parquet(p).schema
        t3 = time.perf_counter()
        # every workload runs pandas UDFs (migrate: its stream members)
        n = _cpus()
        self.spark.range(n).repartition(n).mapInPandas(
            lambda it: it, "id long").count()
        t4 = time.perf_counter()
        return {"setup_s": t4 - t0, "start_s": t1 - t0,
                "registry_s": t2 - t1, "load_table_s": t3 - t2,
                "workers_s": t4 - t3}

    # -- operations -----------------------------------------------------
    def run_member(self, name: str, collect: bool):
        """Build one member's plan and execute it: collected to pandas on
        the cold pass (what a ``query_cli`` user pays, and the result
        the output check reads), to the noop sink on warm passes."""
        with self.span(f"queries.{name}", "queries"):
            df = self.queries[name](self.spark, self.tables_dir)
        with self.span("execute", "execute"):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        from sync_cosmos_db_spark.cache_scope import release_persisted

        self.workload.reset()
        ops = self.workload.ops(self.seed, pass_no)
        _reset_peak_rss()  # the harness's own checks stay out of the peak
        t_pass = time.perf_counter()
        for op in ops:
            entry = {"op": len(self.op_log), "name": op.name,
                     "pass": pass_no, "traced": traced}
            if self.tracer is not None:
                self.tracer.op = entry["op"]
            entry["start"] = time.time()
            t0 = time.perf_counter()
            try:
                op.result = op.run()
                entry["ok"] = True
            except Exception:  # an operation failure is a measured outcome
                entry["ok"] = False
                self.errors[f"{op.name}#{pass_no}"] = traceback.format_exc(
                    limit=3)
            entry["latency_s"] = time.perf_counter() - t0
            entry["end"] = time.time()
            if self.tracer is not None:
                self.tracer.op = None
            self.released += release_persisted()
            if op.name in self.failed_names:
                entry["ok"] = False
            if op.name.startswith("catchup:") and entry["ok"]:
                entry["bucket_dirs"] = op.result
            self.op_log.append(entry)
        wall = time.perf_counter() - t_pass
        self.py_peak_kb = max(self.py_peak_kb, _hwm_kb("self"))
        if isinstance(self.workload, workloads.MigrateWorkload):
            self.check_migrate(ops, pass_no)
        elif pass_no == 0:
            self.check_members(ops)
        return {"pass": pass_no, "wall_s": wall, "traced": traced}

    # -- checks ---------------------------------------------------------
    def fail(self, op_names: set[str], passes: set[int] | None,
             why: str, key: str) -> None:
        """Record a failed check; it fails the named operations (of the
        given passes, or of every pass including later ones)."""
        self.errors[key] = why
        self.failed_names |= op_names if passes is None else set()
        for e in self.op_log:
            if e["name"] in op_names and e["ok"] and (
                    passes is None or e["pass"] in passes):
                e["ok"] = False

    def check_migrate(self, ops: list, pass_no: int) -> None:
        """Check every operation of a ``migrate`` pass; the content
        checks read the state the pass left behind."""
        d, acct = self.workload.dirs(), self.account_dir
        con = checks.duckdb_tables(self.tables_dir)
        for op in ops:
            if op.result is None:  # the operation itself raised
                continue
            phase, _, key = op.name.partition(":")
            if phase == "stream":
                err = checks.check_member(key, op.result,
                                          self.oracles.get(key), con,
                                          f"sf{self.sf}")
                errs = [err] if err else []
            elif phase == "catchup":
                if op is not ops[-1]:
                    continue
                errs = checks.check_catchup(f"{d['live']}/target", acct,
                                            self.workload.expect)
            else:
                e = self.workload.expect["containers"][key]
                r = op.result["results"][e["database"]][e["container"]]
                if phase == "sanitize":
                    errs = checks.check_sanitized(d["sanitized"], acct, r, e)
                else:
                    errs = checks.check_counters(r, e, phase)
                if phase == "rerun":
                    errs += checks.check_target_content(d["target"], acct, e)
            if errs:
                self.fail({op.name}, {pass_no}, "; ".join(errs),
                          f"check:{op.name}#{pass_no}")
        con.close()

    def check_members(self, ops: list) -> None:
        """Check the collected cold-pass result of every member; a
        member whose check fails fails all of its operations."""
        con = checks.duckdb_tables(self.tables_dir)
        for op in ops:
            if op.result is None:  # the operation itself raised
                continue
            err = checks.check_member(op.name, op.result,
                                      self.oracles.get(op.name), con,
                                      f"sf{self.sf}")
            if err:
                self.fail({op.name}, None, err, f"check:{op.name}")
        con.close()

    # -- session teardown -------------------------------------------------
    def shutdown(self) -> None:
        """Stop the session, end the JVM and every process it started,
        and wait for them."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        procs = _descendants(os.getpid())
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in procs:
            while _alive(pid):
                if time.time() > deadline:
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)
                with contextlib.suppress(ChildProcessError, OSError):
                    os.waitpid(pid, os.WNOHANG)
                time.sleep(0.05)

    # -- the run ----------------------------------------------------------
    def execute(self) -> dict:
        marks = {"start": time.perf_counter()}
        self.prepare_inputs()
        diag = {"live_spark_jvms_before": _live_spark_jvms(),
                "loadavg_before": os.getloadavg()}
        cpu_before = _cpu_times()
        probes = [_host_probe() for _ in range(3)]
        marks["inputs"] = time.perf_counter()
        setup = self.setup()
        self.workload.prepare()
        marks["setup"] = time.perf_counter()
        # the workload's unmeasured warm-up passes; a traced run then
        # traces exactly the passes an untraced run measures
        passes = [self.run_pass(i, traced=False)
                  for i in range(self.workload.warm_up)]
        baselines: list[dict] = []
        if self.trace:
            self.tracer = Tracer()
            self.span = self.tracer.span
            diag["traced_functions"] = self.tracer.install()
            listener = make_stream_listener(self.stream_progress)
            self.spark.streams.addListener(listener)
        t_measure, n_before = time.perf_counter(), len(passes)
        while (len(passes) == n_before
               or time.perf_counter() - t_measure < self.seconds):
            passes.append(self.run_pass(len(passes), traced=self.trace))
        measured = passes[n_before:]
        jvm_kb = sum(_hwm_kb(p) for p in _children(os.getpid()))
        diag.update(python_peak_mb=self.py_peak_kb / 1024,
                    jvm_peak_mb=jvm_kb / 1024)
        peak_mb = (self.py_peak_kb + jvm_kb) / 1024
        if self.trace:
            self.tracer.uninstall()
            self.span = lambda *a: contextlib.nullcontext()
            self.spark.streams.removeListener(listener)
            if self.workload.warm_up:
                # a warm untraced pass to compare the warm traced ones with
                baselines.append(self.run_pass(len(passes), traced=False))
                passes.append(baselines[-1])
            diag.update(_calibration_probes(self.spark))
        app_id = self.spark.sparkContext.applicationId
        marks["passes"] = time.perf_counter()
        self.shutdown()
        probes += [_host_probe() for _ in range(3)]
        diag["host_probe_s"] = median(probes)
        marks["shutdown"] = time.perf_counter()
        # where a run's wall time goes (the run length), from process start
        names = list(marks)
        diag["phase_s"] = {"imports": marks["start"] - T_PROCESS, **{
            b: marks[b] - marks[a] for a, b in zip(names, names[1:])}}
        diag.update({"live_spark_jvms_after": _live_spark_jvms(),
                     "loadavg_after": os.getloadavg(),
                     "cpu_steal_share": _steal_share(cpu_before,
                                                     _cpu_times())})
        out = self.metrics(setup, passes, measured, peak_mb)
        out["diagnostics"] = diag
        if self.trace:
            out.update(self.trace_report(app_id, measured, baselines))
            for k in ("session.start_s", "session.load_table_s"):
                out["layer"][k] = out["extra"][k]
        return out

    def metrics(self, setup: dict, passes: list[dict],
                measured: list[dict], peak_mb: float) -> dict:
        ids = {p["pass"] for p in measured}
        ops = [e for e in self.op_log if e["pass"] in ids]
        lat = [e["latency_s"] for e in ops]
        self.attempted = len(self.op_log)
        self.failed_ops = sum(1 for e in self.op_log if not e["ok"])
        e2e = {
            "setup_s": setup["setup_s"],
            "pass_s": median([p["wall_s"] for p in measured]),
            "cold_pass_s": passes[0]["wall_s"],
        }
        extra = {
            "peak_rss_mb": peak_mb,
            "latency_p50_s": median(lat),
            "latency_p90_s": percentile(lat, 90),
            "failed_ratio": self.failed_ops / self.attempted,
            "latency_samples": len(lat),
            "measured_passes": len(measured),
            "session.start_s": setup["start_s"],
            "session.registry_s": setup["registry_s"],
            "session.load_table_s": setup["load_table_s"],
            "session.workers_s": setup["workers_s"],
            "cache_scope.released_per_op": self.released / self.attempted,
        }
        if isinstance(self.workload, workloads.MigrateWorkload):
            by: dict[int, dict[str, float]] = {}
            for e in ops:
                phase = by.setdefault(e["pass"], {})
                key = e["name"].split(":")[0]
                phase[key] = phase.get(key, 0.0) + e["latency_s"]
            extra["docs_per_s"] = median([
                self.workload.input_units()
                / (b["delta"] + b["rerun"] + b["sanitize"])
                for b in by.values()])
            extra["rerun_s"] = median([b["rerun"] for b in by.values()])
            extra["catchup_s"] = median([b["catchup"] for b in by.values()])
            extra["stream_s"] = median([b["stream"] for b in by.values()])
            extra["streaming.incremental.bucket_dirs_rewritten"] = median([
                e["bucket_dirs"] for e in ops if "bucket_dirs" in e])
        return {"e2e": e2e, "extra": extra, "setup": setup,
                "passes": passes, "ops": self.op_log, "errors": self.errors}

    def trace_report(self, app_id: str, traced_passes: list[dict],
                     baselines: list[dict]) -> dict:
        """Per-layer metrics of the traced passes (per pass averages),
        the self-time table, per-operation attribution and the tracing
        overhead: against the untraced baseline pass after the traced
        ones, or, for a workload without a warm-up (its traced pass is
        its cold pass), against the saved ``--trace 0`` run of the same
        seed if there is one."""
        log = [f for f in os.listdir(self.event_dir) if app_id in f]
        jobs = read_event_log(os.path.join(self.event_dir, log[0]))
        traced = [e for e in self.op_log if e["traced"]]
        n_pass = len({e["pass"] for e in traced})
        by_op = attribute_jobs(
            jobs, [(e["op"], e["start"], e["end"]) for e in traced])
        spans = self.tracer.spans
        st = self_times(spans)
        cores = _cpus()
        wall = sum(e["latency_s"] for e in traced)
        jobs_s = sum(busy_seconds([(j.start, j.end) for j in by_op[e["op"]]],
                                  e["start"], e["end"]) for e in traced)
        tj = [j for e in traced for j in by_op[e["op"]]]
        mb = 1024 * 1024
        layer = {
            "driver.s": (wall - jobs_s) / n_pass,
            "jobs.s": jobs_s / n_pass,
            "jobs.count": len(tj) / n_pass,
            "stages.count": sum(len(j.stages) for j in tj) / n_pass,
            "tasks.count": sum(j.tasks for j in tj) / n_pass,
            "executor.run_s": sum(j.run_s for j in tj) / n_pass,
            "executor.cpu_s": sum(j.cpu_s for j in tj) / n_pass,
            "executor.gc_s": sum(j.gc_s for j in tj) / n_pass,
            "executor.busy_ratio": sum(j.run_s for j in tj) / (wall * cores),
            "shuffle.read_mb": sum(j.shuffle_read_b for j in tj) / mb / n_pass,
            "shuffle.write_mb": sum(j.shuffle_write_b for j in tj)
            / mb / n_pass,
            "scan.read_mb": sum(j.scan_b for j in tj) / mb / n_pass,
            "output.write_mb": sum(j.output_b for j in tj) / mb / n_pass,
            "spill.mb": sum(j.spill_b for j in tj) / mb / n_pass,
        }
        table = {k: {"self_s": v["self_s"] / n_pass,
                     "calls": v["calls"] / n_pass}
                 for k, v in sorted(layer_table(spans).items())}
        top = [s for s in spans if s.parent is None and s.op is not None
               and s.thread == self.main_thread]
        table["harness"] = {"self_s": (wall - sum(s.end - s.start
                                                  for s in top)) / n_pass,
                            "calls": 0}
        for k, v in table.items():  # operator modules summed
            key = ("operators" if k.startswith("operators.") else k) + ".self_s"
            layer[key] = layer.get(key, 0.0) + v["self_s"]
        per_op = self._attribution(traced, spans, st, by_op)
        functions = {k: {"self_s": v["self_s"] / n_pass,
                         "calls": v["calls"] / n_pass}
                     for k, v in layer_table(spans, by="name").items()}
        traced_wall = [p["wall_s"] for p in traced_passes]
        untraced = (median([p["wall_s"] for p in baselines]) if baselines
                    else _saved_pass_s(self.work, self.name, self.seed))
        sp = self.stream_progress
        extra = {
            "streaming.batches": len(sp) / n_pass,
            "streaming.input_rows": sum(p["input_rows"] for p in sp) / n_pass,
            "streaming.state_rows": max([p["state_rows"] for p in sp],
                                        default=0),
            "streaming.state_mb": max([p["state_b"] for p in sp],
                                      default=0) / mb,
        }
        for k in ("batch", "addBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "latestOffset"):
            extra[f"streaming.{k}_s"] = sum(p[f"{k}_s"] for p in sp) / n_pass
        if sp:
            extra["events_per_s"] = extra["streaming.input_rows"] / median(
                traced_wall)
        if isinstance(self.workload, workloads.MigrateWorkload):
            changed = sum(e["inserted"] + e["updated"] for e in
                          self.workload.expect["containers"].values())
            delta_rows = sum(j.output_rows for e in traced
                             if e["name"].startswith("delta:")
                             for j in by_op[e["op"]])
            extra["sinks.rows_written_per_changed_doc"] = (
                delta_rows / n_pass / changed)
        extra["output.rows"] = sum(j.output_rows for j in tj) / n_pass
        if untraced is not None:
            extra["tracing.untraced_pass_s"] = untraced
            extra["tracing.overhead_s"] = median(traced_wall) - untraced
        return {"layer": layer, "layer_table": table, "functions": functions,
                "per_op": per_op, "trace_extra": extra, "spans": spans}

    def _attribution(self, traced, spans, st, by_op) -> list[dict]:
        """Per operation: wall time, its layer parts (build + execute for
        a registry member; catalog, migration and orchestrator self time
        for a container) and how much of the wall they cover."""
        kids: dict[int | None, list] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)
        out = []
        for e in traced:
            top = [s for s in kids.get(None, []) if s.op == e["op"]
                   and s.thread == self.main_thread]
            row = {"op": e["op"], "name": e["name"], "pass": e["pass"],
                   "wall_s": e["latency_s"],
                   "jobs": len(by_op[e["op"]])}
            build = [s for s in top if s.layer == "queries"]
            exe = [s for s in top if s.layer == "execute"]
            if build:
                row["queries.build_s"] = sum(s.end - s.start for s in build)
                row["execute.s"] = sum(s.end - s.start for s in exe)
                row["queries.build_jobs"] = sum(
                    1 for j in by_op[e["op"]] for s in build
                    if s.start <= j.start <= s.end)
                parts = row["queries.build_s"] + row["execute.s"]
            else:
                conts = [s for s in spans if s.op == e["op"] and s.name
                         == "orchestrator.migrate_container_path"]
                parts = 0.0
                for c in conts:
                    parts += (sum(s.end - s.start for s in kids.get(c.id, [])
                                  if s.layer in ("sources.catalog",
                                                 "migration"))
                              + st[c.id])
                if not conts:  # the catch-up: one incremental_migrate call
                    parts = sum(s.end - s.start for s in top)
                row["orchestrator.container_s"] = sum(
                    c.end - c.start for c in conts)
            row["coverage"] = parts / e["latency_s"]
            out.append(row)
        return out


def _result_path(work: str, name: str, seed: int, trace: bool) -> str:
    return os.path.join(work, "results",
                        f"{name}-seed{seed}-trace{int(trace)}.json")


def _saved_pass_s(work: str, name: str, seed: int) -> float | None:
    """``pass_s`` of the saved untraced run of this workload and seed."""
    try:
        with open(_result_path(work, name, seed, False)) as fh:
            return json.load(fh)["e2e"]["pass_s"]
    except (OSError, ValueError, KeyError):
        return None


def _unit(name: str) -> str:
    """The unit of a printed figure, from its name."""
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_ratio", "_per_changed_doc")):
        return "ratio"
    return "count"


def _emit(result: dict, trace: bool) -> dict:
    """The metrics of the result line."""
    names, values = ((LAYER, result["layer"]) if trace
                     else (E2E, result["e2e"]))
    return {k: {"value": values[k], "unit": _unit(k)} for k in names}


def _print_summary(name: str, result: dict, trace: bool) -> None:
    def show(figures: dict) -> None:
        for k, v in figures.items():
            print(f"  {k:44s} {v:14.4f} {_unit(k)}")

    print(f"== {name}")
    show(result["e2e"])
    show(result["extra"])
    if trace:
        print("  -- per-layer (per pass)")
        show(result["layer"])
        print("  -- self time by layer (s per pass, calls per pass)")
        for k, v in result["layer_table"].items():
            print(f"  {k:44s} {v['self_s']:14.4f} {v['calls']:8.1f}")
        print("  -- slowest functions by self time (s per pass)")
        top = sorted(result["functions"].items(),
                     key=lambda kv: -kv[1]["self_s"])[:12]
        for k, v in top:
            print(f"  {k:60s} {v['self_s']:8.4f} {v['calls']:6.1f}")
        show(result["trace_extra"])
        cov = [r["coverage"] for r in result["per_op"]]
        print(f"  attribution coverage: min {min(cov):.3f} "
              f"median {median(cov):.3f} max {max(cov):.3f} "
              f"over {len(cov)} operations")
    for k, v in result["errors"].items():
        print(f"  ERROR {k}: {v.strip().splitlines()[-1][:300]}")


def _save(work: str, name: str, seed: int, trace: bool,
          result: dict) -> None:
    stem = _result_path(work, name, seed, trace)[:-len(".json")]
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    spans = result.pop("spans", None)
    if spans is not None:
        with open(stem + "-spans.jsonl", "w") as fh:
            for s in spans:
                fh.write(json.dumps({"id": s.id, "name": s.name,
                                     "layer": s.layer, "start": s.start,
                                     "end": s.end, "parent": s.parent,
                                     "op": s.op}) + "\n")
    with open(stem + ".json", "w") as fh:
        json.dump(result, fh, indent=1, default=str)


def run_one(name: str, seed: int, seconds: float, trace: bool, sf: float,
            work: str) -> tuple[dict, int, int]:
    run = Run(name, seed, seconds, trace, sf, work)
    try:
        result = run.execute()
    finally:
        run.shutdown()
        shutil.rmtree(run.tmp, ignore_errors=True)
    _print_summary(name, result, trace)
    metrics = _emit(result, trace)
    _save(work, name, seed, trace, result)
    return metrics, run.attempted, run.failed_ops


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at sf0.001, checked")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import sync_cosmos_db_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {root}: "
              f"{exc}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")

    if args.smoke:
        bad = []
        for name in workloads.WORKLOADS:
            _, attempted, failed = run_one(name, args.seed, 0, False,
                                           workloads.SMOKE_SCALE, work)
            if failed:
                bad.append(name)
        print(json.dumps({"smoke": "fail" if bad else "ok",
                          "failed_workloads": bad}))
        return 1 if bad else 0

    metrics, attempted, failed = run_one(
        args.workload, args.seed, args.seconds, bool(args.trace),
        workloads.SCALE[args.workload], work)
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
