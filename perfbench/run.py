"""sparkcdc benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 2 --trace 0

Run from the root of a checkout (the directory holding ``sparkcdc/``).
The run sets up its inputs from ``--seed`` (three times; ``setup_s`` is
the median), warms up, measures at least ``--seconds`` in whole operation
cycles (see workloads.py), checks every output, and prints a line of run
facts followed, as the last line, by
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the engine's layer
boundaries are wrapped in spans (see trace.py) and the metrics are the
per-layer ones, derived from the spans of the measured window. The spans
are written to ``.perfbench/trace-<workload>-seed<seed>.json``.

Every file it writes is under ``.perfbench/`` in the checkout; the work
directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
HEAP = "4g"
WORKLOAD_NAMES = ("backfill", "tail", "dedup")
E2E_UNITS = {"latency_p50_ms": "ms", "throughput_per_s": "1/s", "setup_s": "s"}


def _session(cores: int, work: str, ui: bool):
    from sparkcdc.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, driver_memory=HEAP, ui=ui,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    import resource

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def run(args, work: str, out_dir: str) -> tuple[dict, dict]:
    from perfbench import layers, trace
    from perfbench.workloads import WORKLOADS

    spark = _session(args.cores, work, ui=bool(args.trace))
    try:
        tracer = trace.Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        crashed = 0
        setups = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        gc0 = _gc_seconds(spark)
        undo = trace.instrument(tracer, wl.derived_tables()) if args.trace else []
        w0 = tracer.now()
        try:
            wl.measure()
        except Exception:
            traceback.print_exc()
            crashed += 1
        finally:
            trace.restore(undo)
        wall = tracer.now() - w0
        gc_s = _gc_seconds(spark) - gc0
        rss = _peak_rss_mb(spark)
        tracer.attach_counters(skew_of={"icebox.merge", "dedupe_docs.ngram_jaccard"})
        try:
            wl.check()
        except Exception:
            traceback.print_exc()
            crashed += 1
        failed = crashed + len(wl.errors)

        e2e = {
            "setup_s": statistics.median(setups),
            "throughput_per_s": wl.units / wl.busy_s if wl.busy_s else 0.0,
            "latency_p50_ms": 1e3 * statistics.median(wl.samples or [0.0]),
        }
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "cores": args.cores, "heap": HEAP, "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "setup_runs_s": setups, "warmup_s": warmup_s, "window_s": wall,
            "operations": len(wl.samples), "errors": wl.errors[:5], **wl.info,
        }
        if args.trace:
            tracer.self_times()
            metrics = layers.derive(tracer.spans, wall, {
                "jvm.gc_s": gc_s,
                "jvm.peak_rss_mb": rss,
                "icebox.delta_files": wl.info.get("delta_files", 0),
                "traced.latency_p50_ms": e2e["latency_p50_ms"],
                "traced.throughput_per_s": e2e["throughput_per_s"],
            })
            units = dict((n, u) for n, u, _ in layers.PER_LAYER)
            tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"), info)
        else:
            metrics, units = e2e, E2E_UNITS
        result = {
            "correct": failed == 0,
            "attempted": len(wl.samples) + wl.attempted + crashed,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return info, result
    finally:
        _stop(spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] master (default: every core this process may use)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkcdc", "engine.py")):
        print(f"perfbench: no sparkcdc package under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # PySpark's gateway hand-off file and every temp file stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        info, result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in info["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
