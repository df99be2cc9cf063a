"""Recommendation benchmark: precompute, distributed precompute and serving.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload precompute --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``precompute``, ``precompute_dist`` and
``serve``. Each run starts its own ``local[nproc]`` Spark session with
``SPARK_GRAFT_CPUS`` and the shuffle partitions set to ``nproc``, generates
its inputs from ``--seed``, measures for ``--seconds`` (at least one batch
iteration, at least ``SERVE_MIN_REQUESTS`` requests), checks the outputs and
prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones from a traced run.

A request is one unit of work the single closed-loop client waits for: one
whole pipeline run on the batch workloads, one recommender call on
``serve``. ``run_s`` is one batch iteration, or one page view (the six
calls ``demo.py``'s ``serve_request`` makes for one user with both
algorithms).

The line before the result stamps the run (nproc, parallelism, sf, seed,
commit, source digest, pyspark version, and on ``serve`` the measured share
of page views whose user has KNN neighbours); the spans and raw samples
are written to ``.perfbench/<workload>-seed<seed>-trace<trace>.json``. The exit code is 0
when every output check passed, 1 when one failed, and 2 when the engine
package is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "graph_database_application_for_recommendations_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"

LAYER_FIELDS = {"wall_s": "s", "executor_cpu_s": "s", "jobs": "count", "stages": "count",
                "tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B", "rows": "count"}
REQUEST_FIELDS = {"plan_ms": "ms", "exec_ms": "ms", "jobs": "count", "stages": "count"}


def _configure_environment(work_dir: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job and stage a run creates
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _descendants() -> list[int]:
    from spans import child_pids

    tree, todo, found = child_pids(), [os.getpid()], []
    while todo:
        kids = tree.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every child process."""
    from pyspark import SparkContext

    procs = _descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):  # an exported tree: see source_sha256
        return None
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile as statistics.quantiles gives it."""
    if len(values) <= 1:
        return values[0] if values else float("nan")
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _median(values) -> float:
    # no sample is NaN, which result_line reports as a failed check
    return statistics.median(values) if values else float("nan")


def end_to_end(out) -> dict:
    return {
        "setup_s": (_median(out.setup_s), "s"),
        "run_s": (_median(out.run_s), "s"),
        "cpu_s": (_median(out.cpu_s), "s"),
        "spark_jobs": (_median(out.jobs), "count"),
        "req_p50_ms": (_quantile(out.latency_ms, 50), "ms"),
        "req_p80_ms": (_quantile(out.latency_ms, 80), "ms"),
        "success_rate": ((out.attempted - out.failed) / out.attempted, "ratio"),
        "driver_peak_rss_mb": (_median(out.peak_rss_mb), "MB"),
        "cache_residue_mb": (_median(out.residue_mb), "MB"),
        "modularity": (out.modularity, "Q"),
        "knn_recall": (out.knn_recall, "ratio"),
    }


def per_layer(out) -> dict:
    from workloads import REQUESTS, SPAN_NAMES

    metrics = {}
    for name in SPAN_NAMES:
        spans = [s.as_dict() for s in out.spans if s.name == name]
        for fld, unit in LAYER_FIELDS.items():
            metrics[f"{name}.{fld}"] = (_median([s[fld] for s in spans]), unit)
    for name in REQUESTS:
        reqs = [r for r in out.requests if r["name"] == name]
        for fld, unit in REQUEST_FIELDS.items():
            metrics[f"{name}.{fld}"] = (_median([r[fld] for r in reqs]), unit)
    # tracing overhead = these minus run_s / cpu_s of the untraced run
    metrics["traced.run_s"] = (_median(out.run_s), "s")
    metrics["traced.cpu_s"] = (_median(out.cpu_s), "s")
    return metrics


def execute(spark, work_dir: str, workload: str, seed: int, seconds: float,
            trace: bool, smoke: bool = False):
    """Run one workload in ``spark``; returns its ``Outcome``."""
    import workloads as wl

    if workload == "serve":
        sf = wl.SMOKE_SF if smoke else wl.SERVE_SF
        ctx = wl.Context(spark, work_dir, seed, sf, trace)
        min_requests = len(wl.REQUESTS) * 2 if smoke else wl.SERVE_MIN_REQUESTS
        return wl.run_serve(ctx, seconds, min_requests)
    sf = wl.SMOKE_SF if smoke else wl.BATCH_SF[workload]
    ctx = wl.Context(spark, work_dir, seed, sf, trace)
    return wl.run_batch(ctx, workload, seconds)


def result_line(out, trace: bool) -> dict:
    metrics = per_layer(out) if trace else end_to_end(out)
    for name, (value, unit) in metrics.items():
        if not math.isfinite(value):  # no sample: reported as a failed check
            out.check_failures.append(f"metric {name} is {value}")
            metrics[name] = (0.0, unit)
    correct = not out.check_failures and out.failed == 0
    return {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["precompute", "precompute_dist", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(OUT_DIR, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="run-", dir=OUT_DIR)
    try:
        _configure_environment(work_dir, cpus)
        from graph_database_application_for_recommendations_spark.session import get_spark
        import pyspark

        spark = get_spark("perfbench", shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            out = execute(spark, work_dir, args.workload, args.seed, args.seconds,
                          bool(args.trace))
            stamp = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "sf": out.sf, "nproc": cpus,
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "defaultParallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "commit": _commit(), "source_sha256": _source_digest(),
                "pyspark": pyspark.__version__, "serve_digest": out.digest,
                "knn_nonempty_share": out.knn_nonempty_share,
            }
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    result = result_line(out, bool(args.trace))
    record = {
        "stamp": stamp, "result": result, "check_failures": out.check_failures,
        "samples": {k: getattr(out, k) for k in
                    ("setup_s", "run_s", "cpu_s", "jobs", "latency_ms", "peak_rss_mb",
                     "residue_mb")},
        "spans": [s.as_dict() for s in out.spans],
        "requests": out.requests,
    }
    trace_file = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(trace_file, "w") as f:
        json.dump(record, f, indent=1)
    for failure in out.check_failures:
        print(f"check failed: {failure}", file=sys.stderr)
    print("# stamp " + json.dumps(stamp))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
