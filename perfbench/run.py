"""Benchmark of bigslice_spark's registry pipelines on local Spark.

    python3 perfbench/run.py --workload relational --seed 0 --seconds 1 \
        --trace 0
    python3 perfbench/run.py --workload all --seed 0
    python3 perfbench/run.py --smoke

Run it from the root of a checkout. A run generates its seeded inputs
(datagen.py), takes each pipeline's DuckDB oracle answer (oracle.py,
cached per data set under .perfbench_work/), then starts a fresh driver
process (worker.py) with its own TMPDIR, SPARK_LOCAL_DIRS and checkpoint
directory, all deleted afterwards. Spark runs as local[N] with N = the
number of CPUs. DESIGN.md gives the reasons for the workloads and
metrics.

--trace 0 reports the end-to-end metrics: setup_s, wall_s and cpu_s per
pass over the workload's pipelines, and ok_frac, the share of pipeline
runs that matched their oracle. --trace 1 runs the workload untraced and
then traced, and reports the per-layer metrics and the tracing overhead.
The last line of standard output is the result as one JSON object. The
line before it is the raw record of the run: failed_frac, per-pipeline
times, run phases, host steal ticks and load average, and the span
file's path. With --workload all, each workload prints these two lines
in turn.

--smoke runs every workload once on tiny inputs, untraced and traced.
It checks that every metric of BENCHMARK.json is printed with its unit,
and that a deliberately corrupted result counts as a failure.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = 0.03            # lineitem has 180,000 rows
SMOKE_SF = 0.001
RUN_LIMIT_S = 150   # a run must end within 180 s, stopping included


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _driver_mem() -> str:
    """A quarter of the machine's memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f
                      if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(8192, kb // 4096))}m"


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that the
    pyspark daemon, which runs in a process group of its own, can still
    be found and stopped."""
    import ctypes
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                            0, 0, 0)


def _stop_descendants(worker: int) -> None:
    """Stop every process started for a driver process (the JVM and the
    Python workers included) and wait until each has ended. ``worker``
    itself is left for its Popen object to reap."""
    me = os.getpid()

    def running() -> list[int]:
        for p in procstat.tree(me)[1:]:
            if p != worker:  # reap orphans re-parented to us
                with contextlib.suppress(ChildProcessError):
                    os.waitpid(p, os.WNOHANG)
        # an unreaped zombie still counts: the JVM's leader thread turns
        # zombie while its other threads are still exiting
        return [p for p in procstat.tree(me)[1:]
                if p != worker or procstat.live([p])]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = running()
        for p in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        end = time.time() + 10.0
        while pids and time.time() < end:
            time.sleep(0.1)
            pids = running()
        if not pids:
            return


class Run:
    """One measurement: inputs, oracle answers and isolated directories
    for the fresh driver processes it starts."""

    def __init__(self, root: str, workload: str, deadline: float) -> None:
        self.root, self.workload, self.deadline = root, workload, deadline
        self.work = os.path.join(root, ".perfbench_work")
        os.makedirs(self.work, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{workload}-",
                                    dir=self.work)
        self.data = os.path.join(self.dir, "data")
        self.expected = os.path.join(self.dir, "expected.json")
        self.phases: dict[str, float] = {}
        self.n = 0

    def prepare(self, seed: int, sf: float) -> None:
        """Write seed ``seed``'s inputs and their oracle digests."""
        t = time.time()
        datagen.write(datagen.variant(datagen.base_tables(sf), seed),
                      self.data)
        self.phases["datagen_s"] = time.time() - t
        t = time.time()
        with open(datagen.__file__, "rb") as f:
            gen_id = hashlib.sha256(f.read()).hexdigest()
        with open(self.expected, "w") as f:
            json.dump(oracle.oracle_digests(
                self.data, list(WORKLOADS[self.workload]),
                os.path.join(self.work, "oracle-cache.json"),
                f"{gen_id}:{sf:g}:{seed}"), f)
        self.phases["oracle_s"] = time.time() - t

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def worker(self, seconds: float, trace_prefix: str = "",
               corrupt: str = "") -> dict:
        self.n += 1
        wdir = os.path.join(self.dir, f"w{self.n}")
        for sub in ("tmp", "local", "checkpoint"):
            os.makedirs(os.path.join(wdir, sub))
        env = dict(os.environ)
        cpus = str(len(os.sched_getaffinity(0)))
        env.update(
            TMPDIR=os.path.join(wdir, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(wdir, "local"),
            PYTHONPATH=os.pathsep.join(
                [self.root] + [p for p in env.get("PYTHONPATH", "")
                               .split(os.pathsep) if p]),
            SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
            # keep the JVM's own temporary files (native libraries,
            # artifact dirs, perf data) inside the run directory
            JAVA_TOOL_OPTIONS=" ".join(filter(None, [
                env.get("JAVA_TOOL_OPTIONS"),
                f"-Djava.io.tmpdir={os.path.join(wdir, 'tmp')}",
                "-XX:-UsePerfData"])))
        out = os.path.join(wdir, "out.json")
        log = os.path.join(wdir, "worker.log")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", self.workload,
               "--data", self.data, "--expected", self.expected,
               "--seconds", str(seconds), "--out", out,
               "--run-dir", wdir]
        if trace_prefix:
            cmd += ["--trace-prefix", trace_prefix]
        if corrupt:
            cmd += ["--corrupt", corrupt]
        with open(log, "w") as logf:
            spawned = time.time()
            proc = subprocess.Popen(cmd + ["--t0", repr(spawned)],
                                    cwd=self.root, env=env, stdout=logf,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                t = time.time()
                _stop_descendants(proc.pid)
                proc.wait()
                self.phases[f"w{self.n}_total_s"] = time.time() - spawned
                self.phases[f"w{self.n}_stop_s"] = time.time() - t
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as f:
                tail = f.read()[-3000:]
            _fail(f"driver process failed (exit {proc.returncode}):\n"
                  f"{tail}")
        with open(out) as f:
            return json.load(f)


def _per_pass(res: dict, key: str) -> float:
    return sum(r[key] for r in res["runs"]) / res["passes"]


def _wall(res: dict) -> float:
    return sum(r["build_s"] + r["action_s"]
               for r in res["runs"]) / res["passes"]


def _counts(res: dict) -> tuple[int, int]:
    runs = res["runs"]
    return len(runs), sum(1 for r in runs if not r["ok"])


def _metric_specs() -> tuple[dict, dict]:
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def measure(workload: str, seed: int, seconds: float, trace: bool,
            sf: float = SF, corrupt: str = "") -> tuple[dict, dict]:
    """Run one measurement; returns (result, raw record)."""
    e2e_units, layer_units = _metric_specs()
    root = os.getcwd()
    host0 = procstat.host()
    run = Run(root, workload, time.time() + RUN_LIMIT_S)
    try:
        run.prepare(seed, sf)
        raw: dict = {"workload": workload, "seed": seed, "sf": sf}
        if not trace:
            res = run.worker(seconds, corrupt=corrupt)
            values = {
                "setup_s": res["setup_s"],
                "wall_s": _wall(res),
                "cpu_s": _per_pass(res, "cpu_s"),
            }
            attempted, failed = _counts(res)
            values["ok_frac"] = (attempted - failed) / attempted
            units = e2e_units
        else:
            plain = run.worker(seconds, corrupt=corrupt)
            traces = os.path.join(run.work, "traces")
            os.makedirs(traces, exist_ok=True)
            prefix = os.path.join(
                traces, f"{workload}-seed{seed}-{int(time.time())}")
            res = run.worker(seconds, trace_prefix=prefix,
                             corrupt=corrupt)
            values = dict(res["layers"])
            values["trace.overhead_s"] = _wall(res) - _wall(plain)
            values["engine.jvm_peak_rss_mb"] = res["jvm_peak_rss_mb"]
            attempted, failed = (a + b for a, b in
                                 zip(_counts(plain), _counts(res)))
            units = layer_units
            raw.update(untraced_wall_s=_wall(plain),
                       traced_wall_s=_wall(res),
                       span_file=os.path.relpath(f"{prefix}.trace.json",
                                                 root),
                       summary_file=os.path.relpath(
                           f"{prefix}.summary.json", root))
    finally:
        run.close()
    host1 = procstat.host()
    raw.update(
        failed_frac={"value": failed / attempted, "unit": "frac"},
        passes=res["passes"],
        pipelines=[{k: r.get(k) for k in
                    ("pass", "pipeline", "build_s", "action_s", "cpu_s",
                     "rows", "ok", "error")} for r in res["runs"]],
        phases=run.phases,
        steal_ticks=host1["steal_ticks"] - host0["steal_ticks"],
        loadavg_start=host0["loadavg"], loadavg_end=host1["loadavg"])
    missing = set(units) - set(values)
    if missing:
        _fail(f"metrics not measured: {sorted(missing)}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u}
                          for k, u in units.items()}}
    return result, raw


def smoke() -> None:
    """Every workload once on tiny inputs, untraced, traced and with one
    corrupted result; exits non-zero if any check fails."""
    e2e_units, layer_units = _metric_specs()
    problems = []
    for w, pipelines in WORKLOADS.items():
        for trace, units in ((False, e2e_units), (True, layer_units)):
            res, raw = measure(w, 1, 0, trace, sf=SMOKE_SF)
            print(json.dumps(res))
            print(json.dumps({"workload": w,
                              "failed_frac": raw["failed_frac"]}))
            for name, unit in units.items():
                got = res["metrics"].get(name)
                if got is None or got["unit"] != unit or \
                        not isinstance(got["value"], (int, float)):
                    problems.append(f"{w}: {name} not printed with {unit}")
            if not res["correct"]:
                problems.append(f"{w}: failed on uncorrupted inputs")
        res, _ = measure(w, 1, 0, False, sf=SMOKE_SF,
                         corrupt=pipelines[0])
        if res["correct"] or res["failed"] != 1:
            problems.append(f"{w}: corrupted {pipelines[0]} not counted "
                            f"as a failure: {res}")
        print(f"{w}: corrupted {pipelines[0]} -> failed {res['failed']}"
              f" of {res['attempted']}, ok_frac "
              f"{res['metrics']['ok_frac']['value']:.3f}")
    for p in problems:
        print(f"SMOKE FAIL {p}", file=sys.stderr)
    print(json.dumps({"smoke": "fail" if problems else "ok",
                      "problems": problems}))
    sys.exit(1 if problems else 0)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"],
                    help="'all' runs every workload in turn")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("bigslice_spark", "queries.py")):
        _fail("run from the root of a bigslice_spark checkout "
              "(bigslice_spark/queries.py not found)")
    if args.seed < 0:
        _fail("--seed must be >= 0")
    sys.path.insert(0, os.getcwd())  # bigslice_spark, for the oracles
    # a stopped benchmark still stops its driver processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    if args.smoke:
        smoke()
    if args.workload is None:
        _fail("--workload is required")
    for w in WORKLOADS if args.workload == "all" else [args.workload]:
        result, raw = measure(w, args.seed, args.seconds, bool(args.trace))
        print(json.dumps({"raw": raw}))
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
