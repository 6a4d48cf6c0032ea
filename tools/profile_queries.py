"""Per-query profiler: noop-sink isolated timing + plan capture.

Usage:
    python tools/profile_queries.py <tag> [query ...]

Runs each named declared query (from __spark_entry__.queries()) against
$SPARK_GRAFT_SF_DIR (default sf0.1) with the noop sink (guide §1.4), REPS
times (SPARK_GRAFT_BENCH_REPS, default 3), records wall medians + the
noise-insensitive stage counters (same protocol as bench.py), and writes
the formatted physical plan to plans/<tag>/<query>.txt.

This is a measurement tool only — bench.py stays frozen.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import StageCounters  # noqa: E402  (frozen harness reused read-only)


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    from sparkcdc.session import get_spark

    spark = get_spark(
        app=f"sparkcdc-profile-{tag}", master=f"local[{cpus}]",
        shuffle_partitions=cpus, driver_memory="24g", ui=True,
        extra_conf={"spark.ui.retainedStages": "20000",
                    "spark.port.maxRetries": "64"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    counters = StageCounters(spark)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    plans_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        # plan capture (cheap, before timing)
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        walls = []
        rows = None
        for _ in range(reps):
            counters.mark()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            d = fn(spark, sf_dir)
            d.write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            cts = counters.since_mark()
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "wall_median": round(statistics.median(walls), 3),
            "wall_all": [round(w, 3) for w in walls],
            "counters": cts,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTALS " + json.dumps({
        "wall_median_sum": round(sum(v["wall_median"] for v in out.values()), 3),
        "cpu_sec_sum": round(sum(v["counters"]["cpu_time_ms"] for v in out.values()) / 1e3, 1),
        "shuffle_mb_sum": round(sum(v["counters"]["shuffle_read_bytes"] for v in out.values()) / 1e6, 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
