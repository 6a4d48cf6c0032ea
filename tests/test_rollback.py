"""rollback(snapshot_id): metadata-only restore of an earlier snapshot as
a new commit — state, lineage and batch fences return to the target's
values, the engine replays the undone WAL range on its next run, and
change-feed consumers (AggView here) self-heal via the reversal that
read_changes emits across the rollback."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkcdc.changelog import generate_changelog, write_log_parquet
from sparkcdc.config import JobConfig
from sparkcdc.engine import CDCEngine
from sparkcdc.icebox import IceboxTable, SnapshotExpiredError

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_tok", T.LongType()),
])


def _log(spark, rows, seq0):
    return spark.createDataFrame(
        [(op, i, s, n, seq0 + j) for j, (op, i, s, n) in enumerate(rows)],
        "op string, doc_id long, source string, n_tok long, seq long",
    )


def _state(t):
    return sorted((r.doc_id, r.source, r.n_tok) for r in t.read().collect())


def test_rollback_restores_state_lineage_and_fences(spark, tmp_path):
    t = IceboxTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
                           n_buckets=4)
    t.merge(_log(spark, [("upsert", i, "a", i) for i in range(5)], 1), "b1")
    good = t.snapshot["snapshot_id"]
    good_state = _state(t)
    good_lsn = t.lineage["last_applied_lsn"]
    t.merge(_log(spark, [("upsert", 1, "a", 999), ("delete", 2, None, None)], 100),
            "b2-bad")
    assert _state(t) != good_state

    m = t.rollback(good)
    assert m["rolled_back_to"] == good and m["restored_lsn"] == good_lsn
    assert _state(t) == good_state
    assert t.lineage["last_applied_lsn"] == good_lsn
    # the undone batch's fence id is gone: the corrected batch re-applies
    assert "b2-bad" not in t.snapshot["committed_batches"]
    t.merge(_log(spark, [("upsert", 1, "a", 111)], 100), "b2-bad")
    assert (1, "a", 111) in _state(t)
    # rolled-past snapshots stay time-travel readable
    assert len(t.read(snapshot_id=good + 1).collect()) == 4
    # idempotent no-op form
    assert t.rollback(t.snapshot["snapshot_id"])["skipped"] is True


def test_engine_replays_undone_range_after_rollback(spark, tmp_path):
    """The operator story: bad second half published → rollback → re-run
    the SAME engine config; planning resumes from the restored LSN and
    the replay converges to the straight-through replay state."""
    log = generate_changelog(spark, 2_000, 150, seed=31, dup_pct=10)
    wal = str(tmp_path / "wal")
    write_log_parquet(log, wal)
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"),
                    n_buckets=4, batch_size=500)
    eng = CDCEngine(spark, cfg)
    eng.run()
    final = sorted(tuple(r) for r in eng.table.read().collect())
    mid = 2  # snapshot after batch 2 of 4
    eng.table.rollback(mid)
    assert eng.table.lineage["last_applied_lsn"] == 1_000
    eng2 = CDCEngine(spark, cfg)
    plan = eng2.plan_batches()
    assert plan and plan[0][0] == 1_000  # replans exactly the undone range
    eng2.run()
    assert sorted(tuple(r) for r in eng2.table.read().collect()) == final


def test_change_feed_consumers_self_heal_across_rollback(spark, tmp_path):
    """read_changes across a rollback emits the reversal, so an AggView
    refreshed after the rollback equals a direct GROUP BY of the restored
    state — no rebuild, just the normal incremental refresh."""
    from sparkcdc.aggview import AggView

    t = IceboxTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
                           n_buckets=4)
    t.merge(_log(spark, [("upsert", i, f"s{i % 2}", i) for i in range(8)], 1), "b1")
    good = t.snapshot["snapshot_id"]
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"],
        aggs={"n": ("count", None), "tok": ("sum", "n_tok"),
              "mx": ("max", "n_tok")},
        source_schema=SCHEMA,
    )
    view.refresh_from(t)
    t.merge(_log(spark, [("upsert", 50, "sNEW", 1000, ), ("delete", 7, None, None)],
                 100), "b2-bad")
    view.refresh_from(t)  # view now tracks the bad state
    t.rollback(good)
    view.refresh_from(t)  # the reversal window
    got = sorted(tuple(r) for r in view.read().collect())
    want = sorted(tuple(r) for r in t.read().groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("tok"),
        F.max("n_tok").alias("mx")).collect())
    assert got == want
    assert not any(g[0] == "sNEW" for g in got)


def test_staged_commit_conflicts_with_rollback_and_stays_parked(spark, tmp_path):
    """A write-audit-publish delta staged BEFORE a rollback was computed
    against pre-rollback state: publishing it afterwards must raise the
    typed conflict (never silently land stale data on the restored state)
    and leave the staged delta parked for a re-stage."""
    from sparkcdc.icebox import CommitConflictError

    t = IceboxTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
                           n_buckets=2)
    t.merge(_log(spark, [("upsert", i, "a", i) for i in range(6)], 1), "b1")
    good = t.snapshot["snapshot_id"]
    t.merge(_log(spark, [("upsert", 1, "a", 111)], 50), "b2")
    t.merge(_log(spark, [("upsert", 2, "a", 222)], 60), "b3", stage="wap1")
    t.rollback(good)
    with pytest.raises(CommitConflictError, match="rollback"):
        t.publish_staged("wap1")
    assert "wap1" in t.staged()  # still parked — caller re-stages
    assert _state(t) == [(i, "a", i) for i in range(6)]  # restored, untouched


def test_bootstrap_dump_with_null_key_is_quarantined(spark, tmp_path):
    """A snapshot dump can carry the same damage a WAL can: with a DLQ
    configured the bootstrap quarantines a null-keyed dump row instead of
    seeding the table with it."""
    from sparkcdc.engine import read_dlq

    spark.createDataFrame(
        [(s, "upsert", f"D{s}", "a", s) for s in range(1, 4)],
        "seq long, op string, doc_id string, source string, n_tok long",
    ).write.parquet(str(tmp_path / "wal"))
    spark.createDataFrame(
        [("D9", "a", 9), (None, "a", 7)],
        "doc_id string, source string, n_tok long",
    ).write.parquet(str(tmp_path / "dump"))
    cfg = JobConfig(
        log_path=str(tmp_path / "wal"), table_path=str(tmp_path / "tbl"),
        n_buckets=2, batch_size=10,
        bootstrap_path=str(tmp_path / "dump"), bootstrap_lsn=0,
        dlq_path=str(tmp_path / "dlq"),
    )
    eng = CDCEngine(spark, cfg)
    eng.run()
    assert eng.table.read().where(F.col("doc_id").isNull()).count() == 0
    [q] = read_dlq(spark, str(tmp_path / "dlq")).collect()
    assert q.dlq_reason == "null-key" and q.n_tok == 7
    [boot] = [r for r in eng.metrics.records if r.get("kind") == "bootstrap"]
    assert boot["quarantined_rows"] == 1


def test_rollback_across_rebucket_restores_layout_and_packed_self_heals(
    spark, tmp_path
):
    """Rollback to a snapshot with a DIFFERENT bucket layout (the rolled-
    past history contains a rebucket): the restored n_buckets governs
    subsequent merges, the shard-atom PackedTable converges back to the
    one-shot pack of the restored state via its normal refresh, and
    expiration afterwards drops the rolled-past history cleanly."""
    from sparkcdc.packing import PackedTable, pack_sequences

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ])
    t = IceboxTable.create(spark, str(tmp_path / "t"), schema, key="doc_id",
                           n_buckets=2)

    def plog(rows, s0):
        return spark.createDataFrame(
            [("upsert", i, sh, tk, s0 + j) for j, (i, sh, tk) in enumerate(rows)],
            "op string, doc_id long, shard string, tokens array<int>, seq long",
        )

    t.merge(plog([(i, f"sh{i % 2}", list(range(i, i + 5))) for i in range(8)], 1),
            "b1")
    good = t.snapshot["snapshot_id"]
    pk = PackedTable.create(
        spark, str(tmp_path / "pk"), seq_len=8, shard_type=T.StringType(),
        token_type=T.IntegerType(), id_col="doc_id", tokens_col="tokens",
        shard_col="shard",
    )
    pk.refresh_from(t)
    t.rebucket(4)
    t.merge(plog([(1, "sh1", [99] * 6), (50, "shNEW", [7, 7, 7])], 100), "b2-bad")
    pk.refresh_from(t)

    t.rollback(good)
    assert t.n_buckets == 2  # layout restored across the rebucket
    t.merge(plog([(9, "sh1", [1, 2, 3])], 200), "b3")  # lands on 2 buckets
    pk.refresh_from(t)
    got = sorted((r.shard, r.seq_id, tuple(r.tokens)) for r in pk.chunks().collect())
    want = sorted((r.shard, r.seq_id, tuple(r.tokens)) for r in pack_sequences(
        t.read().select("doc_id", "shard", "tokens"), seq_len=8,
        id_col="doc_id", tokens_col="tokens", shard_col="shard").collect())
    assert got == want
    assert not any(sh == "shNEW" for sh, _, _ in got)
    t.expire_snapshots(keep_last=2)
    assert len(t._history_ids()) == 2  # rolled-past history droppable


def test_rollback_to_expired_snapshot_raises(spark, tmp_path):
    t = IceboxTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
                           n_buckets=2)
    for i in range(12):
        t.merge(_log(spark, [("upsert", i, "a", i)], 10 * i + 1), f"b{i}")
    t.expire_snapshots(keep_last=2)
    with pytest.raises(SnapshotExpiredError):
        t.rollback(1)


def test_concurrent_writer_conflicts_with_rollback(spark, tmp_path):
    """A merge computed against pre-rollback state must NOT silently land
    on the restored state: the rollback claims every bucket, the stale
    merge's internal conflict retry recomputes, and LWW decides."""
    path = str(tmp_path / "t")
    t = IceboxTable.create(spark, path, SCHEMA, key="doc_id", n_buckets=2)
    t.merge(_log(spark, [("upsert", i, "a", i) for i in range(4)], 1), "b1")
    good = t.snapshot["snapshot_id"]
    t.merge(_log(spark, [("upsert", 9, "a", 9)], 50), "b2")
    stale = IceboxTable.load(spark, path)  # handle at post-b2 state
    t.rollback(good)
    m = stale.merge(_log(spark, [("upsert", 1, "a", 777)], 60), "b3")
    assert m.get("applied_events", 0) >= 1
    t.refresh()
    st = _state(t)
    assert (1, "a", 777) in st and not any(d == 9 for d, _, _ in st)


def test_rollback_of_update_emits_reversal_and_consumers_self_heal(
    spark, tmp_path
):
    """The r6 ADVICE gap: rolling back past a pure UPDATE restores the row
    at a LOWER seq. The change feed must still emit the reversal (both
    modes), and both delta-maintained (AggView) and LWW-merged
    (SignatureIndex-style) consumers must converge to the restored state
    on their normal incremental refresh."""
    from sparkcdc.aggview import AggView

    t = IceboxTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
                           n_buckets=4)
    t.merge(_log(spark, [("upsert", i, f"s{i % 2}", i) for i in range(6)], 1),
            "b1")
    good = t.snapshot["snapshot_id"]
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"],
        aggs={"n": ("count", None), "tok": ("sum", "n_tok")},
        source_schema=SCHEMA,
    )
    view.refresh_from(t)
    # pure UPDATES only — no inserts or deletes, the case the old
    # strictly-greater seq comparison silently dropped
    t.merge(_log(spark, [("upsert", 2, "s0", 999), ("upsert", 3, "s1", 888)],
                 100), "b2-bad")
    view.refresh_from(t)
    bad = t.snapshot["snapshot_id"]
    t.rollback(good)

    # the feed emits the reversal in both modes (restored rows at LOWER seq)
    net = t.read_changes(bad).collect()
    assert sorted(r.doc_id for r in net) == [2, 3]
    assert all(r._change == "upsert" for r in net)
    assert sorted((r.doc_id, r.n_tok) for r in net) == [(2, 2), (3, 3)]
    cdf = t.read_changes(bad, mode="cdf").collect()
    assert sorted(
        (r.doc_id, r._change_type, r.n_tok) for r in cdf
    ) == [(2, "update_postimage", 2), (2, "update_preimage", 999),
          (3, "update_postimage", 3), (3, "update_preimage", 888)]

    # delta-maintained consumer heals on its normal refresh
    view.refresh_from(t)
    got = sorted(tuple(r) for r in view.read().collect())
    want = sorted(tuple(r) for r in t.read().groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("tok")).collect())
    assert got == want

    # LWW-merged consumer (IncrementalIndex machinery) heals too: the
    # refresh-window snapshot id is its merge seq, so the restored
    # (lower-seq) payload wins over the stale indexed version
    from sparkcdc.derived import IncrementalIndex

    class _Mirror(IncrementalIndex):
        def __init__(self, table):
            self.table = table

        def refresh_from(self, src):
            return self._refresh(
                src, consumer="mirror",
                derive=lambda ups: ups.select("doc_id", "source", "n_tok"),
            )

    mt = IceboxTable.create(spark, str(tmp_path / "m"), SCHEMA, key="doc_id",
                            n_buckets=4)
    mirror = _Mirror(mt)
    # replay the same history through the mirror: good -> bad -> rollback
    t2 = IceboxTable.create(spark, str(tmp_path / "t2"), SCHEMA, key="doc_id",
                            n_buckets=4)
    t2.merge(_log(spark, [("upsert", i, f"s{i % 2}", i) for i in range(6)], 1),
             "b1")
    good2 = t2.snapshot["snapshot_id"]
    mirror.refresh_from(t2)
    t2.merge(_log(spark, [("upsert", 2, "s0", 999)], 100), "b2-bad")
    mirror.refresh_from(t2)
    assert (2, "s0", 999) in _state(mirror.table)
    t2.rollback(good2)
    mirror.refresh_from(t2)
    assert _state(mirror.table) == _state(t2)
