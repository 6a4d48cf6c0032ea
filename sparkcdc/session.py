"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same builder flags are what we'd
ship to a real cluster via spark-submit (AQE, skew join, Arrow). Nothing
here is local-only except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    but ONLY when the plan's current partitioning is below it.

    The guide §2.5 "repartition immediately after the read" fix, made
    scale-adaptive: a few-file byte-light corpus scans as 1-4 tasks, so
    CPU-heavy derived work (shingling, hashing, n-gram explosion) placed
    in that stage runs nearly serially; a production-scale input already
    has >= parallelism splits and passes through UNTOUCHED (no shuffle is
    ever added at scale). Call it on the narrowest projection the
    downstream derivation needs, so the exchange moves only those bytes."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if cur < target else df


def materialize(df: DataFrame, held: list) -> DataFrame:
    """``df`` evaluated once into executor blocks (``localCheckpoint``):
    every later plan over the result reads the blocks instead of
    re-running ``df``'s lineage. The blocks' RDD is appended to ``held``
    for ``release``."""
    ck = df.localCheckpoint(eager=True)
    held.append(ck._jdf.queryExecution().analyzed().rdd())
    return ck


def release(held: list) -> None:
    """Free the blocks of every checkpoint ``materialize`` put in ``held``.
    ``DataFrame.unpersist`` does not free a local checkpoint; unpersisting
    its own RDD — the ``LogicalRDD`` at the root of its plan — does."""
    while held:
        held.pop().unpersist(False)


def get_spark(
    app: str = "sparkcdc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    ui: bool = False,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # UI off by default (test/CLI overhead); the bench enables it to
        # read noise-insensitive counters from the /api/v1 status endpoint
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.driver.memory", driver_memory or "8g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
