"""Structured-Streaming front-end: tail the change-log directory as a file
stream and apply each micro-batch through the same MERGE sink.

The batch engine slices the log by LSN range on the driver; this variant
lets Spark's streaming source discover new files and drive the loop via
``foreachBatch`` (SURVEY.md §2.8 T1). Exactly-once still comes from the
icebox fence — the streaming checkpoint only provides source progress,
the table's (bucket, last_applied_lsn) lineage + batch_id fence make
re-delivered micro-batches no-ops, so the sink is idempotent under
checkpoint replay.

Each micro-batch commits through ``CDCEngine._commit`` and then
``CDCEngine._post_commit``, the routines of the batch loop, so on the same
input the stream lands what ``run()`` lands. The config applies as in
``run()``: declared ``columns``, ``dlq_path`` (every epoch is split, and
null-seq rows are parked too), schema evolution, ``audit_checks`` and
``audit_on_fail``, ``retry_*``, the derived tables and table maintenance.
The exceptions: writes are always cost-based (``merge_mode`` applies to the
WAL loop only), ``stream_max_files_per_trigger`` sizes the micro-batches
instead of ``batch_size``, and ``bootstrap_path`` and ``dynamic_schema``
act only in ``run()``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .config import JobConfig
from .engine import CDCEngine


def run_streaming(
    spark: SparkSession,
    cfg: JobConfig,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
) -> dict | tuple[StreamingQuery, CDCEngine]:
    """Tail cfg.log_path with a file-source stream; commit every
    micro-batch the way ``CDCEngine.run`` commits a WAL slice, with
    cost-based writes and no global LSN fence (see the module docstring
    for which config applies). An epoch its audit drops under
    ``audit_on_fail="quarantine"`` is recorded as ``batch-quarantined``
    with its ``epoch``.

    With ``available_now=True`` (default) the stream drains and engine
    metric totals are returned. With ``available_now=False`` the live
    ``(StreamingQuery, CDCEngine)`` pair is returned — await/stop the
    query yourself and read ``engine.metrics`` while it runs.

    Batch ids are namespaced by checkpoint: epoch ids restart at 0 with a
    FRESH checkpoint dir, so the fence id carries a run id derived from
    the checkpoint path. Restarting from the SAME checkpoint re-presents
    identical ids → replayed epochs are fenced as already-committed
    (exactly-once); pointing a NEW checkpoint at an existing table
    re-reads the whole log under fresh ids → every event re-applies as a
    no-op under LWW (idempotent full replay), never silent data loss."""
    import hashlib
    import itertools
    import os
    import time

    from .changelog import read_log

    static = read_log(spark, cfg.log_path, fmt=cfg.log_format)
    engine = CDCEngine(spark, cfg, log_df=static)
    run_ns = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:10]

    commits = itertools.count(1)

    def apply(batch_df, epoch_id: int) -> None:
        t0 = time.time()
        # the WAL loop's commit and post-commit path; fence=False: files
        # arrive unordered, so there is no global LSN fence and deletes
        # persist as tombstones. mor=None: cost-based writes (small
        # steady-state epochs land as MOR deltas, the backfill copy-on-write)
        rec = engine._commit(
            batch_df, f"stream-{run_ns}-epoch-{epoch_id}", fence=False, mor=None
        )
        # a replayed epoch's derived refresh is a fenced no-op; maintenance
        # counts in this stream's commits
        engine._post_commit(
            {"kind": "stream-batch", "epoch": epoch_id, **rec}, t0, next(commits)
        )

    reader = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", str(cfg.stream_max_files_per_trigger)
    )
    stream = (
        reader.json(cfg.log_path)
        if cfg.log_format == "json"
        else reader.parquet(cfg.log_path)
    )
    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return engine.metrics.totals()
    if cfg.stream_trigger == "processing_time":
        writer = writer.trigger(processingTime=cfg.stream_trigger_interval)
    return writer.start(), engine


def windowed_stream_counts(
    spark: SparkSession,
    wal_path: str,
    *,
    checkpoint_dir: str,
    query_name: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    max_files_per_trigger: int = 1,
):
    """Watermarked event-time windowed aggregation over the change stream
    (SURVEY §2.8 T5/T8 as a TRUE Structured Streaming operator, not the
    batch date_trunc form): tumbling ``window`` counts per op, with
    ``watermark`` bounding how late an event may arrive — state for
    windows older than (max event time - watermark) is finalized and
    dropped, so state size is O(open windows), not O(stream history).
    Append output mode = each window emits EXACTLY ONCE, when the
    watermark passes its end; an event arriving after its window's state
    was evicted is discarded (``numRowsDroppedByWatermark``). Timing
    caveat pinned by the test: eviction happens at trigger END, so a
    straggler landing in the SAME trigger where its window finalizes is
    still counted — drops begin one trigger later. The engine's merge
    path instead absorbs arbitrarily-late events via the LSN fence +
    LWW — the two late-data contracts, side by side. Windows still open
    when the stream drains are NOT emitted (append semantics). Drains
    ``wal_path`` with availableNow (one file per trigger so event time
    progresses across triggers) and returns the finalized windows."""
    import os

    if os.path.exists(os.path.join(checkpoint_dir, "offsets")):
        # same contract as stateful.run_stateful_lww: the memory sink
        # cannot recover from a checkpoint — a reused dir would surface
        # only windows finalized since the last drain
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} already has progress: use a "
            "fresh checkpoint_dir, or wire the aggregation into a "
            "recoverable sink for a resumable pipeline"
        )
    static = spark.read.parquet(wal_path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(wal_path)
    )
    from pyspark.sql import functions as F

    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "op")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select(
        F.col("win.start").alias("window_start"),
        "op",
        F.col("count").alias("n"),
    )
