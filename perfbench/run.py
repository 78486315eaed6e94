"""Repository benchmark: build, query and churn the engine, checked
against the exhaustive oracle.

    python3 perfbench/run.py --workload query_headline --seed 1 --seconds 10 --trace 0

Run from the repository root.  Spark runs at ``local[<cores>]`` with one
closed-loop client thread.  Human-readable lines go to stdout, one
metric per line with its unit; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).  All
scratch files live under ``.perfbench/`` in the checkout and are
removed at exit.  See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lucene_solr_8_7_0_spark"
WORKLOADS = ("query_headline", "churn")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file inside ``work``; let Spark's Python workers import
    the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher too): temp files in ``work``, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    warnings.filterwarnings("ignore", category=UserWarning, module="pyspark")


def start_spark(work: str, cores: int):
    from lucene_solr_8_7_0_spark.session import get_spark

    spark = get_spark(
        cores=cores, shuffle_partitions=4 * cores, app_name="perfbench",
        extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def memory(spark) -> dict:
    from pyspark import SparkContext

    from tracing import descendants, hwm_mb

    jvm = SparkContext._gateway.proc.pid
    workers = []
    for pid in descendants(jvm):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    workers.append(hwm_mb(pid))
        except OSError:
            continue
    return {"mem.driver_hwm_mb": hwm_mb("self"), "mem.jvm_hwm_mb": hwm_mb(jvm),
            "mem.worker_hwm_mb": max(workers, default=0.0)}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}; run the "
              "benchmark from a full checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, ROOT)

    import metrics
    from workloads import Bench, Prep

    phases = {}
    t0 = time.perf_counter()
    prep = Prep(args.workload, args.seed)
    prep.start()  # inputs + oracle build overlap the JVM start
    spark = None
    try:
        spark = start_spark(work, cores)
        phases["spark_start"] = time.perf_counter() - t0
        prep.result()
        phases["prep_wait"] = time.perf_counter() - t0 - phases["spark_start"]
        bench = Bench(spark, prep, work, args.seconds, bool(args.trace))
        if args.trace:
            bench.inst.install()
        try:
            getattr(bench, args.workload)()
            if args.trace:
                bench.replay()
                mem = memory(spark)
        finally:
            bench.inst.restore()
        phases["run"] = time.perf_counter() - t0 - sum(phases.values())
        bench.check()
        phases["check"] = time.perf_counter() - t0 - sum(phases.values())
        e2e, notes = metrics.end_to_end(bench)
        layer = metrics.per_layer(bench, mem) if args.trace else None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
        phases["stop"] = time.perf_counter() - t0 - sum(phases.values())
        print("perfbench: wall by phase (s): " + ", ".join(
            f"{k} {v:.1f}" for k, v in phases.items()), file=sys.stderr)

    print(f"workload {args.workload} seed {args.seed} local[{cores}] "
          f"seconds {args.seconds:g} trace {args.trace}")
    for name, unit in metrics.END_TO_END.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name} = {e2e[name]:.6g} {unit}{note}")
    error_rate = bench.failed / max(bench.attempted, 1)
    print(f"error_rate = {error_rate:.6g} ratio  "
          f"({bench.failed} failed of {bench.attempted} operations)")
    if layer is not None:
        for name, unit in metrics.PER_LAYER.items():
            print(f"{name} = {layer[name]:.6g} {unit}")
    chosen, units = (
        (layer, metrics.PER_LAYER) if args.trace else (e2e, metrics.END_TO_END))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
