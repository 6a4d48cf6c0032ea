"""Multi-writer commit safety (optimistic concurrency) and metadata
scaling of the commit-log layer.

The reference dodges multi-writer entirely by pinning taskCount=1
(/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:125);
a production CDC engine has streaming merges racing maintenance
(compact / expire) on the same table, so the icebox commit is a CAS on
the commit-log file with bucket-granular rebase — these tests interleave
two table HANDLES (each holding a stale in-memory snapshot) to exercise
every race the single-process sandbox can express.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkcdc import oracle
from sparkcdc.changelog import generate_changelog, scan_slice
from sparkcdc.icebox import (
    CHECKPOINT_EVERY,
    CommitConflictError,
    IceboxTable,
    SnapshotExpiredError,
    bucket_expr,
)

from test_icebox import SCHEMA_V1

ROW_DDL = (
    "seq: long, op: string, doc_id: string, tokens: array<int>, "
    "n_tok: int, source: string, ts: timestamp"
)


def _one(spark, seq, doc_id, op="upsert", tok=None):
    tok = tok if tok is not None else [int(seq) % 7]
    return spark.createDataFrame(
        [(int(seq), op, doc_id, tok, len(tok), "src0", None)], ROW_DDL
    )


def _keys_in_distinct_buckets(spark, n_buckets, want=2):
    """Deterministically pick doc_ids hashing to different buckets."""
    cand = spark.createDataFrame(
        [(f"DOC-{i:08d}",) for i in range(64)], "doc_id: string"
    )
    rows = cand.select("doc_id", bucket_expr("doc_id", n_buckets).alias("b")).collect()
    seen: dict[int, str] = {}
    for r in rows:
        seen.setdefault(int(r["b"]), r["doc_id"])
        if len(seen) >= want:
            break
    assert len(seen) >= want
    return list(seen.items())[:want]  # [(bucket, doc_id), ...]


def test_disjoint_writers_both_commit_via_rebase(spark, tmp_path):
    """Two writers with STALE handles commit merges on disjoint buckets:
    the loser of the commit-file race rebases (no recompute, zero
    conflict retries needed) and neither commit is lost."""
    path = str(tmp_path / "t")
    IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=8)
    t1 = IceboxTable.load(spark, path)
    t2 = IceboxTable.load(spark, path)  # both handles see snapshot 0
    (b1, k1), (b2, k2) = _keys_in_distinct_buckets(spark, 8)

    m1 = t1.merge(_one(spark, 10, k1), "w1-b1")
    assert m1["touched_buckets"] == [b1]
    # t2 still believes parent=0 → its CAS for id 1 loses → rebase to id 2
    m2 = t2.merge(_one(spark, 11, k2), "w2-b1", conflict_retries=0)
    assert not m2["skipped"] and m2["touched_buckets"] == [b2]

    t3 = IceboxTable.load(spark, path)
    assert t3.snapshot["snapshot_id"] == 2
    got = {r["doc_id"]: r for r in t3.read(with_seq=True).collect()}
    assert set(got) == {k1, k2}
    assert got[k1]["_seq"] == 10 and got[k2]["_seq"] == 11
    # lineage survived the rebase: max of both writers
    assert t3.lineage["last_applied_lsn"] == 11
    assert set(t3.snapshot["committed_batches"]) == {"w1-b1", "w2-b1"}


def test_overlapping_writers_conflict_raises_then_retry_converges(spark, tmp_path):
    """COW merges on the SAME bucket do not commute: the stale writer must
    NOT blindly commit (it would silently drop the winner's rows). With
    conflict_retries=0 it raises; with retries it reloads, recomputes and
    converges to the serial LWW result — no commit lost."""
    path = str(tmp_path / "t")
    IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=8)
    t1 = IceboxTable.load(spark, path)
    t2 = IceboxTable.load(spark, path)

    t1.merge(_one(spark, 10, "DOC-A", tok=[1]), "w1")
    with pytest.raises(CommitConflictError):
        t2.merge(_one(spark, 20, "DOC-A", tok=[2]), "w2", conflict_retries=0)
    # default path: internal reload + re-run commits on top
    m = t2.merge(_one(spark, 20, "DOC-A", tok=[2]), "w2-retry")
    assert not m["skipped"]
    rows = IceboxTable.load(spark, path).read(with_seq=True).collect()
    assert len(rows) == 1
    assert rows[0]["_seq"] == 20 and rows[0]["tokens"] == [2]


def test_merge_vs_compact_no_commit_lost(spark, tmp_path):
    """A stale compact racing a committed merge recomputes instead of
    resurrecting pre-merge state; a stale merge racing a committed
    compact re-runs on the compacted base. Both orders converge to the
    oracle."""
    path = str(tmp_path / "t")
    t = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 1_500, 120, seed=31, dup_pct=10)
    for lo in range(0, 1_500, 500):
        t.merge(scan_slice(log, lo, lo + 500), f"b{lo}", mor=True)

    # order 1: merge commits first, stale compact retries
    t_compact = IceboxTable.load(spark, path)
    t_merge = IceboxTable.load(spark, path)
    extra1 = _one(spark, 2_001, "DOC-00000007", tok=[42])
    t_merge.merge(extra1, "late-1")
    res = t_compact.compact()  # stale handle: loses CAS, reloads, recomputes
    assert res["compacted_buckets"] > 0
    state = IceboxTable.load(spark, path)
    assert state.read().where(F.col("doc_id") == "DOC-00000007").first()["tokens"] == [42]

    # order 2: compact commits first, stale merge retries on top
    t_compact2 = IceboxTable.load(spark, path)
    t_merge2 = IceboxTable.load(spark, path)
    t_compact2.merge(_one(spark, 2_002, "DOC-00000008", tok=[7]), "late-2")
    # t_merge2 is now stale; its COW merge overlaps whatever buckets its key hits
    m = t_merge2.merge(_one(spark, 2_003, "DOC-00000008", tok=[9]), "late-3")
    assert not m["skipped"]
    final = IceboxTable.load(spark, path)
    row = final.read().where(F.col("doc_id") == "DOC-00000008").first()
    assert row["tokens"] == [9]
    # replaying everything serially gives the same visible state
    expected = oracle.replay(log.toPandas())
    got = final.read().where(~F.col("doc_id").isin("DOC-00000007", "DOC-00000008")).toPandas()
    oracle.assert_table_equal(got, expected.loc[~expected["doc_id"].isin(["DOC-00000007", "DOC-00000008"])])


def test_concurrent_duplicate_batch_id_skipped_exactly_once(spark, tmp_path):
    """Two racing drivers submit the SAME batch_id: the loser detects the
    id in the intervening commit at CAS time and skips — the batch is
    applied exactly once even though both fences passed."""
    path = str(tmp_path / "t")
    IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=8)
    t1 = IceboxTable.load(spark, path)
    t2 = IceboxTable.load(spark, path)
    batch = _one(spark, 10, "DOC-B", tok=[3])
    m1 = t1.merge(batch, "dup-batch")
    assert not m1["skipped"]
    m2 = t2.merge(batch, "dup-batch")  # stale handle: fence check passes
    assert m2["skipped"] and m2["reason"] == "already-committed-concurrently"
    t3 = IceboxTable.load(spark, path)
    assert t3.snapshot["snapshot_id"] == 1
    assert t3.read().count() == 1


def test_concurrent_mor_appends_commute(spark, tmp_path):
    """Two MOR merges on the SAME bucket are pure appends — they rebase
    past each other with zero retries (LWW resolves at read), like
    Iceberg's concurrent-append fast path."""
    path = str(tmp_path / "t")
    IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    t1 = IceboxTable.load(spark, path)
    t2 = IceboxTable.load(spark, path)
    t1.merge(_one(spark, 10, "DOC-C", tok=[1]), "m1", mor=True,
             fence=False, tombstones=True)
    # same key → same bucket → overlapping, but append-only: must NOT conflict
    m = t2.merge(_one(spark, 20, "DOC-C", tok=[2]), "m2", mor=True,
                 fence=False, tombstones=True, conflict_retries=0)
    assert not m["skipped"]
    rows = IceboxTable.load(spark, path).read(with_seq=True).collect()
    assert len(rows) == 1 and rows[0]["_seq"] == 20 and rows[0]["tokens"] == [2]


def test_schema_update_races_serialize(spark, tmp_path):
    """Concurrent update_schema calls serialize; a merge racing a schema
    update is NOT a conflict (its files stay tagged with the old schema
    version and normalize forward on read)."""
    import pyspark.sql.types as T

    path = str(tmp_path / "t")
    IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    t1 = IceboxTable.load(spark, path)
    t2 = IceboxTable.load(spark, path)
    v2 = T.StructType(SCHEMA_V1.fields + [T.StructField("extra", T.StringType(), True)])
    t1.merge(_one(spark, 5, "DOC-D"), "b1")
    # t2 stale: schema update rebases past the merge commit
    t2.update_schema(v2)
    t3 = IceboxTable.load(spark, path)
    assert "extra" in [f.name for f in t3.schema.fields]
    assert t3.read().count() == 1  # old-schema file normalized forward


def test_schema_update_reapply_cannot_undo_a_widening(spark, tmp_path):
    """A schema update that loses the race re-checks the widening rule
    against the winner's schema: re-applying a stale schema would narrow
    the column the winner widened, so it raises instead."""
    import pyspark.sql.types as T

    path = str(tmp_path / "t")
    IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    t1 = IceboxTable.load(spark, path)
    t2 = IceboxTable.load(spark, path)
    wide = T.StructType([
        f if f.name != "n_tok" else T.StructField("n_tok", T.LongType())
        for f in SCHEMA_V1.fields
    ])
    t1.update_schema(wide)
    with pytest.raises(ValueError, match="'n_tok'.*not a widening"):
        t2.update_schema(T.StructType(
            SCHEMA_V1.fields + [T.StructField("extra", T.StringType())]))
    assert IceboxTable.load(spark, path).schema == wide


# ---------------- metadata scaling (commit-log layer) ----------------


def _fake_entry(i: int, bucket: int) -> dict:
    return {
        "path": f"data/fake-{i}.parquet",
        "bucket": bucket,
        "schema_v": 1,
        "rows": 10,
        "bytes": 1000,
        "tombstones": False,
    }


def test_commit_metadata_is_o_touched_not_o_table(spark, tmp_path):
    """200 commits, each touching ONE bucket: the bytes of the LAST commit
    delta file equal (±) the bytes of an early one — commit metadata is
    O(touched buckets), independent of total table file count — while the
    materialized manifest keeps growing. Checkpoints appear every
    CHECKPOINT_EVERY commits and bound the fold length."""
    path = str(tmp_path / "t")
    t = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=1024)
    # pure-metadata commits (MOR-append-shaped deltas; no Spark jobs)
    for i in range(1, 201):
        t._try_commit(
            {
                "operation": "merge",
                "parent": t.snapshot["snapshot_id"],
                "snapshot_id": t.snapshot["snapshot_id"] + 1,
                "batch_id": f"b{i}",
                "removed_buckets": [],
                "added": [_fake_entry(i, i % 1024)],
                "lineage_delta": {"last_applied_lsn": i, "per_bucket": {str(i % 1024): i}},
                "summary": {"operation": "merge"},
            }
        )
    assert t.snapshot["snapshot_id"] == 200
    assert len(t.snapshot["manifest"]) == 200

    early = os.path.getsize(os.path.join(path, "metadata", "commit-7.json"))
    late = os.path.getsize(os.path.join(path, "metadata", "commit-199.json"))
    ckpt = os.path.getsize(os.path.join(path, "metadata", "checkpoint-200.json"))
    # delta stays constant-size while the full state grew ~200×
    assert late < early * 2
    assert ckpt > late * 20
    ckpts = sorted(
        int(p.split("-")[1].split(".")[0])
        for p in os.listdir(os.path.join(path, "metadata"))
        if p.startswith("checkpoint-")
    )
    assert ckpts == [0] + list(range(CHECKPOINT_EVERY, 201, CHECKPOINT_EVERY))

    # a fresh handle folds ≤ CHECKPOINT_EVERY deltas onto the newest
    # checkpoint and sees the same state
    t2 = IceboxTable.load(spark, path)
    assert t2.snapshot["snapshot_id"] == 200
    assert len(t2.snapshot["manifest"]) == 200
    assert t2.lineage["last_applied_lsn"] == 200
    # fence window is intact across the log
    assert "b200" in t2.snapshot["committed_batches"]

    # time travel to an arbitrary mid-log snapshot materializes correctly
    mid = t2._snapshot_by_id(137)
    assert mid["snapshot_id"] == 137 and len(mid["manifest"]) == 137


def test_checkpoint_fold_e2e_with_spark_merges(spark, tmp_path, monkeypatch):
    """End-to-end with real merges at a tiny checkpoint cadence: reload
    after N commits folds checkpoint+deltas to the exact oracle state;
    time travel across the checkpoint boundary works."""
    import sparkcdc.icebox as icebox_mod

    monkeypatch.setattr(icebox_mod, "CHECKPOINT_EVERY", 3)
    path = str(tmp_path / "t")
    t = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=8)
    log = generate_changelog(spark, 2_000, 150, seed=57, dup_pct=10)
    for lo in range(0, 2_000, 250):
        t.merge(scan_slice(log, lo, lo + 250), f"b{lo}")
    t2 = IceboxTable.load(spark, path)
    assert t2.snapshot["snapshot_id"] == 8
    oracle.assert_table_equal(t2.read().toPandas(), oracle.replay(log.toPandas()))
    # time travel before/at/after a checkpoint id
    for sid in (2, 3, 4):
        expected = oracle.replay(scan_slice(log, 0, sid * 250).toPandas())
        oracle.assert_table_equal(t2.read(snapshot_id=sid).toPandas(), expected)


# ---------------- consumer-pinned expiration ----------------


def test_expire_refuses_registered_consumer_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    t = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 2_000, 150, seed=61)
    t.merge(scan_slice(log, 0, 500), "b1")
    s1 = t.snapshot["snapshot_id"]
    t.register_consumer("downstream", s1)
    for lo in range(500, 2_000, 500):
        t.merge(scan_slice(log, lo, lo + 500), f"b{lo}")

    m = t.expire_snapshots(keep_last=1)
    assert m["clamped_by_consumers"] is True
    # the registered from-snapshot is still readable for incremental out
    ch = t.read_changes(s1)
    assert ch.count() > 0
    # consumer advances → the history behind it becomes reclaimable
    t.advance_consumer("downstream", t.snapshot["snapshot_id"])
    m2 = t.expire_snapshots(keep_last=1)
    assert m2["expired_snapshots"] > 0 and m2["clamped_by_consumers"] is False
    with pytest.raises(SnapshotExpiredError):
        t.read_changes(s1)


def test_register_consumer_at_expired_snapshot_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    t = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 1_000, 80, seed=63)
    for lo in range(0, 1_000, 250):
        t.merge(scan_slice(log, lo, lo + 250), f"b{lo}")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotExpiredError):
        t.register_consumer("late-joiner", 1)
    # registering at a live snapshot still works
    sid = t.register_consumer("ok", None)
    assert sid == t.snapshot["snapshot_id"]


def test_rebucket_conflicts_with_concurrent_merge_both_orders(spark, tmp_path):
    """Partition evolution under concurrency: rebucket removes EVERY old
    bucket, so it conflicts with any concurrent data commit in either
    commit order — the loser reloads the evolved (or merged) state and
    recomputes; no commit is lost and the final state matches the serial
    oracle in the NEW layout."""
    path = str(tmp_path / "rb")
    t = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 2_000, 150, seed=41, dup_pct=10)
    t.merge(scan_slice(log, 0, 1_000), "base")

    # order 1: merge commits first; a stale rebucket must raise at
    # conflict_retries=0 (its rewrite was computed without the merge)
    t_rb = IceboxTable.load(spark, path)
    t_m = IceboxTable.load(spark, path)
    t_m.merge(_one(spark, 5_001, "DOC-00000003", tok=[1, 2]), "late-a")
    with pytest.raises(CommitConflictError):
        t_rb._rebucket_once(16)
    res = t_rb.rebucket(16)  # retry loop reloads and succeeds
    assert res["rebucketed"]
    cur = IceboxTable.load(spark, path)
    assert cur.n_buckets == 16
    assert cur.read().where(F.col("doc_id") == "DOC-00000003").first()["tokens"] == [1, 2]

    # order 2: rebucket commits first; a stale merge (bucket layout
    # computed at n_buckets=16) must conflict, reload, and land correctly
    t_rb2 = IceboxTable.load(spark, path)
    t_m2 = IceboxTable.load(spark, path)
    t_rb2.rebucket(8)
    with pytest.raises(CommitConflictError):
        t_m2._merge_once(
            _one(spark, 5_002, "DOC-00000005", tok=[9]), "late-b",
            seq_col="seq", op_col="op", delete_value="delete",
            fence=True, tombstones=False, ts_col=None, mor=False,
        )
    m = t_m2.merge(_one(spark, 5_003, "DOC-00000005", tok=[9]), "late-c")
    assert not m["skipped"]
    final = IceboxTable.load(spark, path)
    assert final.n_buckets == 8
    assert final.read().where(F.col("doc_id") == "DOC-00000005").first()["tokens"] == [9]
    # every key of the original log is still intact after two rebuckets
    expected = oracle.replay(scan_slice(log, 0, 1_000).toPandas())
    got = final.read().where(
        ~F.col("doc_id").isin("DOC-00000003", "DOC-00000005")
    ).toPandas()
    oracle.assert_table_equal(
        got, expected.loc[~expected["doc_id"].isin(["DOC-00000003", "DOC-00000005"])]
    )
