"""Volume anchor: the replay family at an sf1-EQUIVALENT event volume.

The driver testdata stops at sf0.1 (2.1M-event WAL), so the 10x scale
anchor VERDICT r4 asked for is synthesized with the engine's own
deterministic generator: 20M events over 1M docs — the same event:doc
ratio bench.py uses — written as a real parquet WAL and replayed through
the full engine (icebox MERGE, fence, lineage) in both the micro-batch
and single-batch regimes. One run per regime (this is an anchor, not a
round-over-round instrument); counters are the comparable signal, wall
is recorded with the usual noise caveat.

Usage: python tools/bench_volume.py [n_events] [cpus]
Appends nothing; prints one JSON line — fold into BENCH/BASELINE.md by
hand.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = n_events // 20

    from bench import StageCounters

    from sparkcdc.changelog import generate_changelog, write_log_parquet
    from sparkcdc.config import JobConfig
    from sparkcdc.engine import CDCEngine
    from sparkcdc.session import get_spark

    spark = get_spark(
        app="sparkcdc-volume", master=f"local[{cpus}]",
        shuffle_partitions=cpus, driver_memory="48g", ui=True,
        extra_conf={
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
            "spark.port.maxRetries": "64",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    counters = StageCounters(spark)
    work = tempfile.mkdtemp(prefix="sparkcdc-volume-")
    log_path = os.path.join(work, "wal")

    # warm codegen with a small replay so the anchor measures engine work
    warm = os.path.join(work, "warm")
    write_log_parquet(generate_changelog(spark, 40_000, 2_000, seed=1),
                      os.path.join(warm, "wal"), partitions=8)
    CDCEngine(spark, JobConfig(log_path=os.path.join(warm, "wal"),
                               table_path=os.path.join(warm, "t"),
                               batch_size=20_000, n_buckets=cpus * 2)).run()

    t0 = time.time()
    log = generate_changelog(spark, n_events, n_docs, seed=42,
                             hot_key_pct=10, dup_pct=5, num_partitions=cpus * 4)
    write_log_parquet(log, log_path, partitions=cpus * 4)
    gen_sec = time.time() - t0

    out: dict = {
        "metric": "sf1_equivalent_replay_anchor",
        "n_events": n_events,
        "n_docs": n_docs,
        "cpus": cpus,
        "wal_gen_sec": round(gen_sec, 1),
        "unit": "sec",
    }
    for label, batch in (("micro_batch", max(n_events // 4, 1)),
                         ("large_batch", n_events)):
        counters.mark()
        t0 = time.time()
        eng = CDCEngine(spark, JobConfig(
            log_path=log_path, table_path=os.path.join(work, f"tbl-{label}"),
            batch_size=batch, n_buckets=cpus * 2,
        ))
        totals = eng.run()
        wall = time.time() - t0
        c = counters.since_mark()
        out[label] = {
            "wall_sec": round(wall, 1),
            "applied_events": totals["applied_events"],
            "events_per_sec": round(totals["applied_events"] / wall, 0),
            "cpu_sec": round(c["cpu_time_ms"] / 1e3, 1),
            "shuffle_mb": round(c["shuffle_read_bytes"] / 1e6, 1),
            "input_mb": round(c["input_bytes"] / 1e6, 1),
            "spill_mb": round((c["mem_spill_bytes"] + c["disk_spill_bytes"]) / 1e6, 1),
            "tasks": c["tasks"],
            "final_rows": eng.table.read().count(),
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
