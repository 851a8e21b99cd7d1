"""One benchmark driver process: set up a Spark session through the
package's own ``get_spark``, warm it up, then run a workload's pipelines
one after another until the measuring time is used up, checking every
result against its oracle digest.

Run by run.py, one fresh process per measurement; it writes its
measurements as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback


def _warm_up(spark) -> None:
    """Run one small job so the session is ready: executors and the
    scheduler are up. Cold code paths of the pipelines stay in the timed
    region, because a fresh driver process pays them on every run."""
    spark.range(1000).selectExpr("sum(id)").collect()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch time at which the parent spawned us")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True,
                    help="JSON file: pipeline -> oracle digest")
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-prefix", default="",
                    help="write spans and the layer summary here")
    ap.add_argument("--corrupt", default="",
                    help="drop one row of this pipeline's result before "
                         "checking it (self-check of the gate)")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import oracle
    import procstat
    from workloads import WORKLOADS

    tracer = None
    if args.trace_prefix:
        import tracing
        tracer = tracing.Tracer(os.path.basename(args.trace_prefix))
        tracer.install()  # before the registry binds the modules' names
    from bigslice_spark.queries import QUERIES
    from bigslice_spark.checkpoint import release_all
    from bigslice_spark.session import get_spark
    if tracer:
        tracer.sweep()

    conf = tracing.spark_conf(os.path.join(args.run_dir, "eventlog")) \
        if tracer else None
    spark = get_spark("perfbench", conf=conf)
    sc = spark.sparkContext
    sc.setCheckpointDir(os.path.join(args.run_dir, "checkpoint"))
    _warm_up(spark)
    setup_s = time.time() - args.t0
    out: dict = {"setup_s": setup_s}
    with open(args.expected) as f:
        expected = json.load(f)
    me = os.getpid()
    jvm = sc._gateway.proc.pid
    phase = tracer.pipeline if tracer else \
        (lambda *_: contextlib.nullcontext())
    runs: list[dict] = []
    start = time.time()
    passes = 0
    while passes == 0 or time.time() - start < args.seconds:
        passes += 1
        for name in WORKLOADS[args.workload]:
            rec = {"pass": passes, "pipeline": name}
            cpu0 = procstat.cpu_s(procstat.tree(me))
            py0 = tracer.python_cpu(jvm) if tracer else 0.0
            t0 = time.perf_counter()
            t1 = t2 = None
            table = None
            try:
                with phase(name, "build"):
                    df = QUERIES[name](spark, args.data)
                t1 = time.perf_counter()
                with phase(name, "action"):
                    table = df.toArrow()
                t2 = time.perf_counter()
            except Exception:
                rec.update(ok=False, error=traceback.format_exc(limit=3))
            end = time.perf_counter()
            rec["cpu_s"] = procstat.cpu_s(procstat.tree(me)) - cpu0
            if tracer:
                rec["python_cpu_s"] = tracer.python_cpu(jvm) - py0
            rec.update(build_s=(t1 or end) - t0,
                       action_s=(t2 or end) - (t1 or end))
            if table is not None:
                if name == args.corrupt and table.num_rows:
                    table = table.slice(1)
                got = oracle.arrow_digest(table)
                rec.update(rows=table.num_rows, ok=got == expected[name])
                if not rec["ok"]:
                    rec["error"] = f"oracle mismatch: {got} != " \
                        f"{expected[name]}"
            runs.append(rec)
            release_all(spark)
            del table
    out.update(runs=runs, passes=passes)
    if tracer:
        out["jvm_peak_rss_mb"] = procstat.peak_rss_mb(jvm)
    spark.stop()
    if tracer:
        out["layers"] = tracer.finish(
            args.trace_prefix, os.path.join(args.run_dir, "eventlog"),
            args.data, runs)
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
