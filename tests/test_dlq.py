"""Dead-letter queue (cfg.dlq_path): malformed WAL events — null key,
null op, null sequence number — are quarantined to parquet with reasons
instead of polluting the table (null key) or vanishing silently (null seq
never matches any LSN slice). Idempotent across crash-replay; a clean
parquet WAL proves itself clean from footer statistics and pays nothing."""

import pytest
from pyspark.sql import functions as F

from sparkcdc.config import JobConfig
from sparkcdc.engine import CDCEngine, read_dlq

WAL_DDL = (
    "seq long, op string, doc_id string, tokens array<int>, "
    "n_tok int, source string"
)


def _wal_rows():
    good = [
        (s, "upsert", f"D{s % 7}", [s, s + 1], 2, "src0") for s in range(1, 41)
    ]
    bad = [
        (41, "upsert", None, [1], 1, "src0"),        # null key
        (42, None, "D1", [2], 1, "src0"),            # null op
        (None, "upsert", "D2", [3], 1, "src0"),      # null seq
        (43, None, None, [4], 1, "src0"),            # null key AND op
    ]
    return good, bad


def _write_wal(spark, rows, path):
    spark.createDataFrame(rows, WAL_DDL).coalesce(2).write.parquet(path)


def _state(table):
    return sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok) for r in table.read().collect()
    )


def test_malformed_events_are_quarantined_not_applied(spark, tmp_path):
    good, bad = _wal_rows()
    wal = str(tmp_path / "wal")
    _write_wal(spark, good + bad, wal)
    clean_wal = str(tmp_path / "clean_wal")
    _write_wal(spark, good, clean_wal)

    dlq = str(tmp_path / "dlq")
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"),
                    n_buckets=4, batch_size=20, dlq_path=dlq)
    eng = CDCEngine(spark, cfg)
    eng.run()
    ref = CDCEngine(spark, JobConfig(
        log_path=clean_wal, table_path=str(tmp_path / "ref"),
        n_buckets=4, batch_size=20))
    ref.run()
    assert _state(eng.table) == _state(ref.table)

    q = read_dlq(spark, dlq)
    got = sorted(
        ((r.seq if r.seq is not None else -1), r.dlq_reason) for r in q.collect()
    )
    assert got == [(-1, "null-seq"), (41, "null-key"), (42, "null-op"),
                   (43, "null-key")]  # null key wins the reason when both
    assert "batch" in q.columns  # partition column names the parking batch
    batch_recs = [r for r in eng.metrics.records if r.get("kind") == "batch"]
    assert sum(r.get("quarantined_rows", 0) for r in batch_recs) == 3
    dlq_recs = [r for r in eng.metrics.records if r.get("kind") == "dlq"]
    assert [set(r) for r in dlq_recs] == [{"emitted_at", "kind", "reason", "rows"}]
    assert dlq_recs[0]["reason"] == "null-seq" and dlq_recs[0]["rows"] == 1


def test_crash_replay_does_not_duplicate_dlq_rows(spark, tmp_path):
    """Crash AFTER the quarantine write but BEFORE the merge commit: the
    replayed batch overwrites its own batch=<id> directory, so the DLQ
    row count is stable across the retry."""
    good, bad = _wal_rows()
    wal = str(tmp_path / "wal")
    _write_wal(spark, good + bad, wal)
    dlq = str(tmp_path / "dlq")
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"),
                    n_buckets=4, batch_size=50, dlq_path=dlq, retry_limit=0)
    eng = CDCEngine(spark, cfg)

    real_merge = eng.table.merge
    calls = {"n": 0}

    def crashing_merge(*a, **k):
        calls["n"] += 1
        raise OSError("injected crash after quarantine, before commit")

    eng.table.merge = crashing_merge
    with pytest.raises(OSError, match="injected crash"):
        eng.run()
    assert calls["n"] == 1
    eng.table.merge = real_merge

    eng2 = CDCEngine(spark, cfg)  # clean resume
    eng2.run()
    assert read_dlq(spark, dlq).count() == 4  # 3 per-batch + 1 null-seq


def test_clean_parquet_wal_disables_splitting_via_footers(spark, tmp_path):
    good, _ = _wal_rows()
    wal = str(tmp_path / "wal")
    _write_wal(spark, good, wal)
    dlq = str(tmp_path / "dlq")
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"),
                    n_buckets=4, batch_size=20, dlq_path=dlq)
    eng = CDCEngine(spark, cfg)
    assert eng._dlq_split is True  # conservative until footers prove clean
    eng.run()
    assert eng._dlq_split is False
    with pytest.raises(FileNotFoundError, match="no quarantined batches"):
        read_dlq(spark, dlq)


def test_streaming_front_end_quarantines_including_null_seq(spark, tmp_path):
    """Streaming batches are file-discovered, not LSN-sliced, so a null
    seq would reach the merge — the streaming apply quarantines all three
    malformed classes per epoch."""
    from sparkcdc.engine import read_dlq as _read_dlq
    from sparkcdc.streaming import run_streaming

    good, bad = _wal_rows()
    wal = str(tmp_path / "wal")
    _write_wal(spark, good + bad, wal)
    dlq = str(tmp_path / "dlq")
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"),
                    n_buckets=4, batch_size=50, dlq_path=dlq)
    totals = run_streaming(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    assert totals["applied_events"] > 0
    tbl = CDCEngine(spark, cfg).table
    assert tbl.read().where(F.col("doc_id").isNull()).count() == 0
    q = _read_dlq(spark, dlq)
    reasons = sorted(r.dlq_reason for r in q.collect())
    assert reasons == ["null-key", "null-key", "null-op", "null-seq"]


def test_null_counts_footer_probe(spark, tmp_path):
    from sparkcdc.changelog import null_counts_parquet_stats

    good, bad = _wal_rows()
    wal = str(tmp_path / "wal")
    _write_wal(spark, good + bad, wal)
    stats = null_counts_parquet_stats(wal, ["doc_id", "op", "seq", "nope"])
    assert stats["doc_id"] == 2 and stats["op"] == 2 and stats["seq"] == 1
    assert stats["nope"] is None  # absent column → caller falls back


def test_splitting_rearms_for_new_wal_segments_on_same_engine(spark, tmp_path):
    """r6 ADVICE fix: a run that proved the WAL clean disables per-batch
    splitting — but a LATER run() on the same engine instance must
    re-evaluate, or newly appended malformed segments would pollute the
    table despite a configured DLQ."""
    good, bad = _wal_rows()
    wal = str(tmp_path / "wal")
    _write_wal(spark, good, wal)  # clean WAL: footers disable splitting
    dlq = str(tmp_path / "dlq")
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"),
                    n_buckets=2, batch_size=100, dlq_path=dlq)
    eng = CDCEngine(spark, cfg)
    eng.run()
    assert eng._dlq_split is False  # footer-proven clean
    # append malformed rows (null key at seq 41, null op at 42) as a new
    # segment, then re-run the SAME engine instance
    spark.createDataFrame(
        [(44, "upsert", "DX", [9], 1, "src0")] + bad[:2], WAL_DDL
    ).coalesce(1).write.mode("append").parquet(wal)
    eng.run()
    assert eng.table.read().where(F.col("doc_id").isNull()).count() == 0
    reasons = sorted(r.dlq_reason for r in read_dlq(spark, dlq).collect())
    assert reasons == ["null-key", "null-op"]
    assert ("DX", (9,), 1) in _state(eng.table)
