"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Imports the library and starts a local
Spark session on local[nproc], builds the seeded inputs and their expected
outputs, runs the workload's operation once in the fresh session (import,
session start and this first operation are ``setup_s``), then repeats it
for at least ``--seconds`` seconds (``wall_s``), checking every output
against its oracle. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every run is appended to ``.perfbench_work/runs.jsonl`` with
its host record; the traced run's per-layer seconds and its tracing
overhead go to stderr and to that log.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_TIMED_S = 120.0  # hard stop for the timed loop, whatever --seconds says
SESSION_STARTS = 3  # the first launches the JVM, the others restart the session
COUNTS = (
    "harness.udf_calls",
    "streaming.epochs",
    "gate.decisions",
    "gate.dups",
    "index.absorbs",
    "index.compactions",
    "similarity.artifact_builds",
    "similarity.artifact_hits",
)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-tests")
    return p.parse_args(argv)


def nproc():
    return len(os.sched_getaffinity(0))


def prepare_env():
    """Keep every file Spark, the JVM and tempfile write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("PYPELN_SPARK_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }


TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100",
}


def stop_spark(spark):
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_session(pl, workload, extra_conf):
    """Start the session SESSION_STARTS times; returns it and the median
    start time."""
    starts = []
    for i in range(SESSION_STARTS):
        t0 = time.perf_counter()
        spark = pl.get_spark(app_name=f"perfbench-{workload}", extra_conf=extra_conf)
        starts.append(time.perf_counter() - t0)
        if i + 1 < SESSION_STARTS:
            spark.stop()
    return spark, statistics.median(starts)


def timed_ops(w, seconds):
    """Repeat the operation until ``seconds`` have passed (at least once)."""
    results = []
    start = time.perf_counter()
    while time.perf_counter() - start < min(seconds, MAX_TIMED_S):
        r = w.run_op()
        if r is not None:
            results.append(r)
    if not results:
        raise RuntimeError("every timed operation failed")
    return results


def per_layer(w, results, spark_delta, build_jobs, storage, host):
    """The traced run's stdout metrics, per timed operation (host.* per run)."""
    n = len(results)
    sp = {k: v / n for k, v in spark_delta.items()}
    out = {
        "trace.wall_s": (statistics.median(r["wall_s"] for r in results), "s"),
        "driver.build_s": (statistics.fmean(r["build_s"] for r in results), "s"),
        "driver.build_jobs": (build_jobs / n, "count"),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = (sp[k], "count")
    for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
        out[f"spark.{k}"] = (sp[k], "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"spark.{k}"] = (sp[k], "MB")
    out["storage_mb"] = ((storage["mem_bytes"] + storage["disk_bytes"]) / 2**20, "MB")
    for k in COUNTS:
        out[k] = (w.counts[k] / n, "count")
    out["host.psi_stall_s"] = (host["psi_stall_s"], "s")
    out["host.steal_ticks"] = (host["steal_ticks"], "count")
    out["host.cpus"] = (host["cpus"], "count")
    return out


def main(argv=None):
    args = parse(argv)
    conf = prepare_env()
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "pypeln_spark")):
        log(f"pypeln_spark/ not found under {ROOT}: nothing to benchmark")
        return 2
    from pyspark import cloudpickle

    from perfbench import trace as tr
    from perfbench import udfs

    host0 = tr.host_snapshot()
    t0 = time.perf_counter()
    import pypeln_spark as pl
    from pypeln_spark.ext import dedup as D

    import_s = time.perf_counter() - t0
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cloudpickle.register_pickle_by_value(udfs)
    spark, start_s = start_session(
        pl, args.workload, {**conf, **(TRACE_CONF if args.trace else {})}
    )
    w = None
    try:
        cls = WORKLOADS[args.workload]
        w = cls(spark, os.path.join(WORK, "inputs"), args.seed, bool(args.trace), log,
                sizes=cls.SMOKE if args.smoke else None)
        w.prepare()
        if args.trace:
            w.instrument()
            totals = tr.SparkTotals(spark)
        cold = w.run_op()
        if cold is None:
            raise RuntimeError("the first operation failed")

        w.begin_timed()
        if args.trace:
            snap0 = totals.snapshot()
        jobs0 = w.build_jobs()
        results = timed_ops(w, args.seconds)
        build_jobs = w.build_jobs() - jobs0
        if args.trace:
            snap1 = totals.snapshot()
        detail = w.extra()
        storage = D.storage_pool_report(spark)
        host = {"id": tr.host_id(), "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                "nproc": nproc(), **tr.host_delta(host0, tr.host_snapshot())}

        wall = statistics.median(r["wall_s"] for r in results)
        e2e = {
            "setup_s": (import_s + start_s + cold["wall_s"], "s"),
            "wall_s": (wall, "s"),
        }
        record = {
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "session_s": import_s + start_s,
            "cold_s": cold["wall_s"],
            "wall_s_all": [r["wall_s"] for r in results],
            "first_out_s": statistics.median(r["first_out_s"] for r in results),
        }
        if args.trace:
            delta = {k: snap1[k] - snap0[k] for k in snap1}
            metrics = per_layer(w, results, delta, build_jobs, storage, host)
            seconds = {k: v / len(results) for k, v in w.spans.s.items()}
            seconds.update(detail)
            record["layers_s"] = {k: round(v, 6) for k, v in sorted(seconds.items())}
            base = last_untraced(args.workload, args.seed)
            if base is not None:
                record["trace_overhead_s"] = wall - base
        else:
            record["detail"] = detail
            metrics = e2e
        record["metrics"] = {k: v for k, (v, _) in {**e2e, **metrics}.items()}
        record["attempted"], record["failed"] = w.ops.attempted, w.ops.failed
        with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        log(json.dumps({k: v for k, v in record.items() if k != "metrics"}))
        out = {
            "correct": w.ops.failed == 0,
            "attempted": w.ops.attempted,
            "failed": w.ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if w is not None:
            w.close()
        stop_spark(spark)
    print(json.dumps(out), flush=True)
    return 0


def last_untraced(workload, seed):
    """Median wall_s of the latest untraced run of ``workload`` in the run
    log (same seed preferred), for the tracing overhead."""
    path = os.path.join(WORK, "runs.jsonl")
    if not os.path.exists(path):
        return None
    best = None
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("workload") != workload or r.get("trace"):
                continue
            if best is None or r["seed"] == seed or best["seed"] != seed:
                best = r
    return best["metrics"]["wall_s"] if best else None


if __name__ == "__main__":
    sys.exit(main())
