"""Benchmark runner for filters_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 5 --trace 0

Generates the seeded input tables, sets up a Spark session on
``local[<cpus>]`` (three times; the median is ``setup_s``), runs one
workload as a single closed-loop client (a fixed number of steady
passes, more if ``--seconds`` of steady time remain), checks its
outputs, and prints a report followed, on the last line, by one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of ``layers.py``.

All state (generated tables, table roots, ``spark-warehouse``,
``SPARK_LOCAL_DIRS``, temp files) lives in a private directory under
``.perfbench_work/`` that is removed when the run ends.  See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# TPC-H scale factor of the generated tables: 15k orders, 60k lineitem
SCALE = 0.01
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "steady_pass_s": "s",
    "op_gmean_s": "s", "cold_cpu_s": "s", "steady_cpu_s": "s",
}
SETUP_REPEATS = 3


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _isolate(work: str, cpus: int) -> None:
    """Point every place Spark, the JVM and Python write to at ``work``
    and make the engine importable from Python workers."""
    for d in ("local", "tmp", "tables"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir="
        f"{os.path.join(work, 'tmp')} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")
    os.chdir(work)        # derby.log, metastore_db, stray relative paths


def _source_id() -> dict:
    """Git commit when the tree is a checkout, and always a digest of
    the engine's sources."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "filters_spark"))):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _warmup(spark) -> None:
    """Generic actions that start the executor pool and the shuffle
    path, as a long-lived session would have."""
    from pyspark.sql import functions as F

    spark.range(1).count()
    spark.range(0, 100_000).groupBy((F.col("id") % 7).alias("k")) \
        .count().count()


def _setup(data_dir: str, tables, walls: dict):
    """Session, warm-up actions and the handles of ``tables``; appends
    each part's wall to ``walls`` and returns the session."""
    from filters_spark.sources import get_spark, load_table

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warmup(spark)
    t2 = time.perf_counter()
    for t in tables:
        load_table(spark, t, data_dir).schema
    t3 = time.perf_counter()
    for k, v in (("session", t1 - t0), ("warmup", t2 - t1),
                 ("open", t3 - t2)):
        walls[k].append(v)
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _memory_mb(spark) -> tuple[float, float]:
    """(peak, retained) memory of the driver: peak is this process's
    peak RSS plus the JVM's VmHWM; retained is this process's RSS plus
    the JVM heap still in use after a full collection."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_hwm_kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
    with open("/proc/self/status") as f:
        py_rss_kb = next(int(line.split()[1]) for line in f
                         if line.startswith("VmRSS:"))
    py_peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()
    return (py_peak_kb + jvm_hwm_kb) / 1024, py_rss_kb / 1024 + heap / 2**20


def run(args) -> dict:
    import datagen
    import layers
    import spans
    import workloads as W

    cpus = _cpus()
    load_start = os.getloadavg()
    env = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
           "master": f"local[{cpus}]", "shuffle_partitions": cpus,
           "python": platform.python_version(), **_source_id()}

    data_dir = os.path.join(args.work, "data")
    t0 = time.perf_counter()
    env["rows"] = datagen.generate(data_dir, args.seed, SCALE)
    env["datagen_s"] = time.perf_counter() - t0

    walls = {"session": [], "warmup": [], "open": []}
    setups, spark = [], None
    try:
        for i in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _setup(data_dir, W.TABLES[args.workload], walls)
            setups.append(time.perf_counter() - t0)
        probe = spans.JvmProbe(spark) if args.trace else None
        tracer = spans.Tracer(bool(args.trace), probe)
        ctx = W.Ctx(spark=spark, data_dir=data_dir, work_dir=args.work,
                    seed=args.seed, seconds=args.seconds, tracer=tracer)
        cpu0 = W.cpu_s()
        res = W.WORKLOADS[args.workload](ctx)
        busy, steal = W.cpu_since(cpu0)
        peak, retained = _memory_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
    import pyspark
    env["spark"] = pyspark.__version__

    env["loadavg_start"] = load_start
    env["loadavg_end"] = os.getloadavg()
    # share of the machine's CPU time the hypervisor took while the
    # workload ran; wall-time metrics of a run with a high share read slow
    env["steal_pct"] = 100 * steal
    env["overloaded"] = (max(load_start[0], env["loadavg_end"][0]) > cpus
                         or env["steal_pct"] > 10)

    steady_ops = [w for ph, k, w in res.ops if ph == "steady"
                  and (not res.primary or k in res.primary)]
    tail, beyond = W.tail(steady_ops)
    e2e = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": res.passes[0][1],
        "steady_pass_s": W.median([w for ph, w, _ in res.passes
                                   if ph == "steady"]),
        "cold_cpu_s": res.passes[0][2],
        "steady_cpu_s": W.median([c for ph, _, c in res.passes
                                  if ph == "steady"]),
        "op_gmean_s": W.gmean(steady_ops),
    }
    # reported, not bounded: from run to run the tail (a few samples)
    # and memory (the JVM's heap sizing) moved by nearly the largest
    # bound allowed
    detail = {**res.detail, "op_p50_s": W.median(steady_ops),
              "op_tail_s": tail, "op_tail_pct": W.TAIL_PCT,
              "op_tail_beyond": beyond,
              "peak_rss_mb": peak, "retained_mb": retained,
              "op_samples": len(steady_ops),
              "steady_passes": sum(ph == "steady" for ph, _, _ in res.passes),
              "setup_walls_s": setups, "setup_parts_s": walls,
              "error_rate": res.failed / max(1, res.attempted),
              "end_to_end": e2e}
    if args.trace:
        metrics = layers.derive(tracer, res, walls, cpus)
        units = layers.PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    return {"env": env, "detail": detail, "errors": res.errors,
            "passes": res.passes, "ops": res.ops,
            "attempted": res.attempted, "failed": res.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units},
            "spans": tracer.spans}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query-mix", "table-lifecycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full report (and the "
                    "spans of a traced run) to this JSON file")
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "filters_spark", "__init__.py")):
        print(f"perfbench: no filters_spark package under {ROOT}; run "
              "from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    out_path = os.path.abspath(args.out) if args.out else None
    args.work = os.path.join(ROOT, ".perfbench_work",
                             f"{os.getpid()}-{time.time_ns()}")
    cwd, t_run = os.getcwd(), time.perf_counter()
    try:
        _isolate(args.work, _cpus())
        rep = run(args)
    finally:
        os.chdir(cwd)
        shutil.rmtree(args.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.work))
        except OSError:
            pass
    rep["env"]["run_wall_s"] = time.perf_counter() - t_run
    if out_path:
        with open(out_path, "w") as f:
            json.dump(rep, f, indent=1, default=str)
    print(json.dumps({"env": rep["env"], "detail": rep["detail"],
                      "errors": rep["errors"]}, default=str))
    for k, m in rep["metrics"].items():
        print(f"{k:36s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"correct": rep["failed"] == 0,
                      "attempted": rep["attempted"],
                      "failed": rep["failed"],
                      "metrics": rep["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
