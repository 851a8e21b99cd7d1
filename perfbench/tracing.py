"""The traced run: spans around calls into the program's modules, and
per-layer metrics from those spans, /proc and Spark's event log.

Nothing inside ``bigslice_spark`` is edited. The tracer replaces public
functions of the measured modules with timing wrappers before the
registry imports them (operators bind ``from ..checkpoint import
materialize`` at import time), then sweeps every loaded package module
for names still bound to an original.

Spans (name, layer, start, end, parent span, run id) are recorded only
while a pipeline runs, so import-time calls and the harness's own calls
are left out. They stay in memory and are written when the run ends, as
a Chrome trace-event file (open it in chrome://tracing or Perfetto)
beside a JSON summary of the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import re
import sys
import time

from workloads import WORKLOADS

_MB = 1024 * 1024
# operator modules whose public functions the traced run times
TRACED_OPERATORS = ("graph", "upsert", "dedup", "trigram", "web")


def spark_conf(eventlog_dir: str) -> dict[str, str]:
    """The only Spark settings the traced run adds: an uncompressed event
    log in the run's own directory."""
    os.makedirs(eventlog_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{os.path.abspath(eventlog_dir)}",
            "spark.eventLog.compress": "false"}


class Tracer:
    """Spans and counters of one traced driver process."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: dict[object, object] = {}  # original -> wrapper
        self.cached_mb_peak = 0.0

    # -- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def pipeline(self, name: str, phase: str):
        """Span of one pipeline phase; its Spark jobs carry the span's
        name in the local property ``perfbench.span``."""
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        sc.setLocalProperty("perfbench.span", f"{name}:{phase}")
        try:
            with self.span(f"{name}:{phase}", f"queries.{phase}"):
                yield
        finally:
            sc.setLocalProperty("perfbench.span", None)

    def _wrap(self, fn, name: str, layer: str, after=None):
        if fn in self._wrapped or inspect.isgeneratorfunction(fn):
            return self._wrapped.get(fn, fn)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self._stack:  # import time or harness calls
                return fn(*a, **kw)
            with self.span(name, layer):
                out = fn(*a, **kw)
            if after is not None:
                after()
            return out

        self._wrapped[fn] = traced
        return traced

    # -- installation -------------------------------------------------

    def _patch_module(self, mod, names, layer, after=None) -> None:
        for n in names:
            setattr(mod, n, self._wrap(getattr(mod, n),
                                       f"{layer}.{n}", layer, after))

    def install(self) -> None:
        """Wrap the measured modules' public functions. Must run before
        ``bigslice_spark.queries`` is imported."""
        if "bigslice_spark.queries" in sys.modules:
            raise RuntimeError("install the tracer before the registry")
        import importlib

        from bigslice_spark import checkpoint, local_rows, session
        from bigslice_spark.slice import Slice
        self._patch_module(session, ["load_tables"], "session")
        self._patch_module(checkpoint, ["materialize"], "checkpoint",
                           after=self._sample_storage)
        self._patch_module(checkpoint, ["release", "release_all"],
                           "checkpoint")
        self._patch_module(local_rows, ["local_df"], "local_rows")
        for n, f in list(vars(Slice).items()):
            if inspect.isfunction(f) and not n.startswith("_"):
                setattr(Slice, n, self._wrap(f, f"slice.{n}", "slice"))
        for m in TRACED_OPERATORS:
            mod = importlib.import_module(f"bigslice_spark.operators.{m}")
            self._patch_module(
                mod, [n for n, f in vars(mod).items()
                      if inspect.isfunction(f) and not n.startswith("_")
                      and f.__module__ == mod.__name__],
                f"operators.{m}")

    def sweep(self) -> None:
        """Rebind names that loaded package modules imported from a
        wrapped module before it was wrapped."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith("bigslice_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                try:
                    w = self._wrapped.get(val)
                except TypeError:  # unhashable module attribute
                    continue
                if w is not None:
                    setattr(mod, attr, w)

    def _sample_storage(self) -> None:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        infos = sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / _MB
        self.cached_mb_peak = max(self.cached_mb_peak, mb)

    # -- python workers -----------------------------------------------

    @staticmethod
    def python_cpu(jvm_pid: int) -> float:
        """CPU seconds of the JVM's Python worker processes (the pyspark
        daemon's reaped workers are in the daemon's child time)."""
        import procstat
        return procstat.cpu_s([p for p in procstat.tree(jvm_pid)[1:]
                               if procstat.comm(p).startswith("python")])

    # -- results ------------------------------------------------------

    def _self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def finish(self, prefix: str, eventlog_dir: str, data_dir: str,
               runs: list[dict]) -> dict:
        """Per-layer metrics; writes ``<prefix>.trace.json`` (Chrome
        trace events) and ``<prefix>.summary.json``."""
        own = self._self_times()

        def spans(layer, name=None):
            return [s for s in self.spans if s["layer"] == layer
                    and (name is None or s["name"] == name)]

        def dur(ss):
            return sum(s["end"] - s["start"] for s in ss)

        def self_s(ss):
            return sum(own[s["id"]] for s in ss)

        mat = spans("checkpoint", "checkpoint.materialize")
        m = {
            "session.load_tables_s": dur(spans("session")),
            "queries.build_s": dur(spans("queries.build")),
            "queries.action_s": dur(spans("queries.action")),
            "checkpoint.materialize_calls": len(mat),
            "checkpoint.materialize_s": dur(mat),
            "checkpoint.release_s": dur(spans("checkpoint")) - dur(mat),
            "checkpoint.cached_mb_peak": self.cached_mb_peak,
            "slice.calls": len(spans("slice")),
            "slice.plan_s": self_s(spans("slice")),
            "local_rows.calls": len(spans("local_rows")),
            "local_rows.local_df_s": dur(spans("local_rows")),
            "python_worker.cpu_s": sum(r.get("python_cpu_s", 0.0)
                                       for r in runs),
        }
        for name in _all_pipelines():
            for phase in ("build", "action"):
                m[f"queries.{name}.{phase}_s"] = dur(
                    spans(f"queries.{phase}", f"{name}:{phase}"))
        for op in TRACED_OPERATORS:
            m[f"operators.{op}.self_s"] = self_s(spans(f"operators.{op}"))
        jobs, engine = _event_log(eventlog_dir, self.spans, data_dir)
        m.update(engine)
        with open(f"{prefix}.trace.json", "w") as f:
            json.dump({"traceEvents": self._chrome(jobs),
                       "displayTimeUnit": "ms"}, f)
        with open(f"{prefix}.summary.json", "w") as f:
            json.dump({"run_id": self.run_id, "metrics": m,
                       "runs": runs}, f, indent=1)
        return m

    def _chrome(self, jobs: list[dict]) -> list[dict]:
        ev = [{"name": "thread_name", "ph": "M", "pid": 1, "tid": t,
               "args": {"name": n}}
              for t, n in ((1, "driver"), (2, "spark jobs"))]
        for s in self.spans:
            ev.append({"name": s["name"], "cat": s["layer"], "ph": "X",
                       "pid": 1, "tid": 1, "ts": s["start"] * 1e6,
                       "dur": (s["end"] - s["start"]) * 1e6,
                       "args": {"span": s["id"], "parent": s["parent"],
                                "run_id": self.run_id}})
        for j in jobs:
            ev.append({"name": f"job {j['id']}", "cat": "engine",
                       "ph": "X", "pid": 1, "tid": 2,
                       "ts": j["start"] * 1e3,
                       "dur": (j["end"] - j["start"]) * 1e3,
                       "args": {"span": j["span"], "group": j["group"],
                                "run_id": self.run_id}})
        return ev


def _all_pipelines() -> list[str]:
    return [p for w in WORKLOADS.values() for p in w]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _table_rows(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq
    return {os.path.basename(p)[:-len(".parquet")]:
            pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(data_dir, "*.parquet"))}


def _input_scans(plan: dict, data_dir: str, pipeline: str,
                 scans: dict) -> None:
    """Record the SQL-metric ids of every parquet scan of an input table
    in ``plan`` (a sparkPlanInfo tree), and which tables ``pipeline``
    scans."""
    todo = [plan]
    while todo:
        node = todo.pop()
        todo += node.get("children", [])
        if not node["nodeName"].startswith("Scan parquet"):
            continue
        m = re.search(re.escape(os.path.abspath(data_dir)) +
                      r"/(\w+)\.parquet",
                      node.get("metadata", {}).get("Location", ""))
        if m is None:
            continue  # a file the pipeline wrote itself
        scans["tables"].setdefault(pipeline, set()).add(m.group(1))
        for metric in node["metrics"]:
            if metric["name"] == "number of output rows":
                scans["rows_ids"].add(metric["accumulatorId"])
            elif metric["name"] == "size of files read":
                scans["size_ids"].add(metric["accumulatorId"])


def _event_log(eventlog_dir: str, spans: list[dict],
               data_dir: str) -> tuple[list[dict], dict[str, float]]:
    """Jobs of the pipelines' spans and the engine, session-scan and
    Python-worker metrics parsed from Spark's event log."""
    files = glob.glob(os.path.join(eventlog_dir, "*", "events_*")) + \
        glob.glob(os.path.join(eventlog_dir, "local-*"))
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    group_of: dict[int, str] = {}  # SQL execution id -> job group
    scans = {"rows_ids": set(), "size_ids": set(), "tables": {}}
    driver_updates = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = e.get("Properties", {}).get("perfbench.span")
            if span is None:
                continue  # warm-up and session jobs
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "span": span,
                "group": e["Properties"].get("spark.jobGroup.id", ""),
                "start": e["Submission Time"], "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind.endswith("SQLExecutionStart"):
            group_of[e["executionId"]] = e.get("jobGroupId") or ""
        if kind.endswith(("SQLExecutionStart",
                          "SQLAdaptiveExecutionUpdate")):
            group = group_of.get(e["executionId"], "")
            if group.startswith("bss:"):
                _input_scans(e["sparkPlanInfo"], data_dir, group[4:],
                             scans)
        elif kind.endswith("DriverAccumUpdates"):
            driver_updates += e["accumUpdates"]
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    scan_bytes = sum(v for acc, v in driver_updates
                     if acc in scans["size_ids"])
    m = {"queries.build_jobs": sum(1 for j in jobs.values()
                                   if j["span"].endswith(":build")),
         "queries.action_jobs": sum(1 for j in jobs.values()
                                    if j["span"].endswith(":action")),
         "engine.jobs": len(jobs)}
    stages, tasks, empty, failures = set(), 0, 0, 0
    run_ms = cpu_ns = gc_ms = fetch_ms = 0
    sw = sr = spill = scan_rows = py_sent = 0
    peak = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or \
                stage_job.get(e["Stage ID"]) not in jobs:
            continue
        stages.add(e["Stage ID"])
        tasks += 1
        if e["Task End Reason"].get("Reason") != "Success":
            failures += 1
        tm = e.get("Task Metrics") or {}
        run_ms += tm.get("Executor Run Time", 0)
        cpu_ns += tm.get("Executor CPU Time", 0)
        gc_ms += tm.get("JVM GC Time", 0)
        spill += tm.get("Disk Bytes Spilled", 0)
        peak = max(peak, tm.get("Peak Execution Memory", 0))
        rd = tm.get("Shuffle Read Metrics", {})
        wr = tm.get("Shuffle Write Metrics", {})
        inp = tm.get("Input Metrics", {})
        outp = tm.get("Output Metrics", {})
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        fetch_ms += rd.get("Fetch Wait Time", 0)
        sw += wr.get("Shuffle Bytes Written", 0)
        if inp.get("Records Read", 0) + rd.get("Total Records Read", 0) \
                == 0 and wr.get("Shuffle Records Written", 0) + \
                outp.get("Records Written", 0) == 0:
            empty += 1
        for acc in e["Task Info"].get("Accumulables", []):
            if acc.get("Name") == "data sent to Python workers":
                py_sent += int(acc.get("Update") or 0)
            elif acc.get("ID") in scans["rows_ids"]:
                scan_rows += int(acc.get("Update") or 0)
    # rows of the input tables each pipeline's plans scan, counted once
    # per pipeline run
    rows = _table_rows(data_dir)
    scanned = 0
    for sp in spans:
        if sp["layer"] == "queries.build":
            p = sp["name"].rsplit(":", 1)[0]
            scanned += sum(rows.get(t, 0)
                           for t in scans["tables"].get(p, ()))
    busy = _union_ms([(j["start"], j["end"]) for j in jobs.values()])
    pipeline_ms = sum((s["end"] - s["start"]) * 1000 for s in spans
                      if s["layer"].startswith("queries."))
    m.update({
        "engine.stages": len(stages),
        "engine.tasks": tasks,
        "engine.empty_task_frac": empty / tasks if tasks else 0.0,
        "engine.executor_run_s": run_ms / 1000,
        "engine.executor_cpu_s": cpu_ns / 1e9,
        "engine.gc_s": gc_ms / 1000,
        "engine.shuffle_write_mb": sw / _MB,
        "engine.shuffle_read_mb": sr / _MB,
        "engine.fetch_wait_s": fetch_ms / 1000,
        "engine.spill_mb": spill / _MB,
        "engine.peak_execution_mb": peak / _MB,
        "engine.task_failures": failures,
        "engine.no_job_s": max(0.0, pipeline_ms - busy) / 1000,
        "session.scan_rows": scan_rows,
        "session.scan_mb": scan_bytes / _MB,
        "session.scan_amplification":
            scan_rows / scanned if scanned else 0.0,
        "python_worker.data_sent_mb": py_sent / _MB,
    })
    return sorted(jobs.values(), key=lambda j: j["id"]), m
