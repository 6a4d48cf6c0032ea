"""icebox snapshot-table tests: MERGE correctness, idempotency fence,
lineage, time travel, schema evolution (north-rule T3/T6/T7)."""

from __future__ import annotations

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from sparkcdc import oracle
from sparkcdc.changelog import generate_changelog, scan_slice
from sparkcdc.icebox import IceboxTable

SCHEMA_V1 = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)

SCHEMA_V2 = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.LongType()),  # widened
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),  # added
    ]
)


@pytest.fixture()
def table(tmp_path, spark):
    return IceboxTable.create(spark, str(tmp_path / "tbl"), SCHEMA_V1, n_buckets=8)


def test_merge_single_batch_matches_oracle(spark, table):
    log = generate_changelog(spark, 3_000, 300, seed=42)
    expected = oracle.replay(log.toPandas())
    m = table.merge(log, "b1")
    assert not m["skipped"] and m["applied_events"] > 0
    oracle.assert_table_equal(table.read().toPandas(), expected)
    assert table.lineage["last_applied_lsn"] == 3_000


def test_multi_batch_replay_and_idempotency(spark, table):
    log = generate_changelog(spark, 5_000, 400, seed=9, dup_pct=15, shuffled=True)
    expected = oracle.replay(log.toPandas())
    for lo in range(0, 5_000, 1_000):
        hi = lo + 1_000
        batch = scan_slice(log, lo, hi)
        m1 = table.merge(batch, f"b-{lo}-{hi}")
        assert not m1["skipped"]
        # driver retry re-commits the same batch — must be a no-op
        m2 = table.merge(batch, f"b-{lo}-{hi}")
        assert m2["skipped"]
    oracle.assert_table_equal(table.read().toPandas(), expected)
    # per-bucket lineage is populated and ≤ global lsn
    lin = table.lineage
    assert lin["last_applied_lsn"] == 5_000
    assert lin["per_bucket"] and all(v <= 5_000 for v in lin["per_bucket"].values())


def test_fence_admits_lsn_zero_on_fresh_table(spark, table):
    """Regression: LSN 0 is a valid sequence number. The fresh-table fence
    floor is -1 ("nothing applied"), so a first batch whose lowest event
    carries seq=0 must land in full — the old floor of 0 silently swallowed
    that event. Replay of the same seqs stays fenced afterwards."""
    rows = [("d0", [0], 1, "s", 0, "upsert"), ("d1", [1], 1, "s", 1, "upsert")]
    batch = spark.createDataFrame(
        rows, "doc_id: string, tokens: array<int>, n_tok: int, source: string,"
        " seq: long, op: string"
    )
    assert table.lineage["last_applied_lsn"] == -1
    m = table.merge(batch, "b0")
    assert m["applied_events"] == 2
    assert {r.doc_id for r in table.read().collect()} == {"d0", "d1"}
    assert table.lineage["last_applied_lsn"] == 1
    # duplicate delivery under a new batch id: both events now ≤ the fence
    m2 = table.merge(batch, "b0-echo")
    assert m2["applied_events"] == 0


def test_fence_drops_already_applied_events(spark, table):
    log = generate_changelog(spark, 2_000, 200, seed=5)
    table.merge(scan_slice(log, 0, 2_000), "b1")
    before = table.read().toPandas()
    # late duplicate delivery of an old slice under a NEW batch_id:
    # every event is ≤ last_applied_lsn → fence filters all of them
    m = table.merge(scan_slice(log, 0, 1_000), "b2-late")
    assert m["applied_events"] == 0
    oracle.assert_table_equal(table.read().toPandas(), before)


def test_deletes_remove_rows(spark, table):
    ins = generate_changelog(spark, 1_000, 100, seed=1, delete_pct=0)
    table.merge(ins, "b1")
    n0 = table.read().count()
    # delete every doc present, seqs above the fence
    docs = table.read().select("doc_id").distinct()
    dels = docs.select(
        (F.lit(10_000) + F.abs(F.xxhash64("doc_id")) % 1000).alias("seq"),
        F.lit("delete").alias("op"),
        "doc_id",
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit("src0").alias("source"),
        F.current_timestamp().alias("ts"),
    )
    table.merge(dels, "b2")
    assert n0 > 0 and table.read().count() == 0


def test_time_travel(spark, table):
    log = generate_changelog(spark, 2_000, 150, seed=3)
    table.merge(scan_slice(log, 0, 1_000), "b1")
    sid = table.snapshot["snapshot_id"]
    state1 = table.read().toPandas()
    table.merge(scan_slice(log, 1_000, 2_000), "b2")
    assert not table.read().toPandas().equals(state1)
    oracle.assert_table_equal(table.read(snapshot_id=sid).toPandas(), state1)


def test_update_schema_refuses_key_type_change(spark, tmp_path):
    """Buckets hash the key's physical type (Murmur3 over 4 bytes for an
    int, 8 for a bigint), so widening the key would file a re-merged key
    in a new bucket beside its old row: read() would return one row per
    version and read_keys only the new one. update_schema, the one path
    every evolution takes, refuses it; the table stays one row per key."""
    int_key = T.StructType([T.StructField("doc_id", T.IntegerType()),
                            T.StructField("v", T.StringType())])
    t = IceboxTable.create(spark, str(tmp_path / "tbl"), int_key, n_buckets=64)

    def batch(keys, v, seq):
        return spark.createDataFrame(
            [(k, v, seq, "upsert") for k in keys],
            "doc_id: int, v: string, seq: long, op: string",
        )

    t.merge(batch(range(20), "a", 1), "b1")
    widened = T.StructType([T.StructField("doc_id", T.LongType()),
                            T.StructField("v", T.StringType())])
    with pytest.raises(ValueError, match="doc_id"):
        t.update_schema(widened)
    with pytest.raises(ValueError, match="doc_id"):
        t.update_schema(T.StructType([T.StructField("v", T.StringType())]))
    assert dict(t.read().dtypes)["doc_id"] == "int"
    t.merge(batch(range(3), "b", 2), "b2")
    assert t.read().count() == 20
    assert sorted(r.v for r in t.read_keys([0, 1, 2]).collect()) == ["b", "b", "b"]


RULE_V1 = T.StructType([T.StructField("doc_id", T.LongType()),
                        T.StructField("a", T.IntegerType()),
                        T.StructField("b", T.LongType()),
                        T.StructField("s", T.StringType())])


def _rule_schema(change):
    fields = [f for f in RULE_V1.fields if f.name != change[0]]
    if change[1] == "dropped":
        return T.StructType(fields)
    return T.StructType(fields + [T.StructField(change[0], change[1])])


@pytest.mark.parametrize("change,legal", [
    (("b", T.IntegerType()), False),           # narrowing bigint -> int
    (("b", T.StringType()), False),            # not a widening
    (("s", "dropped"), False),                 # dropped payload column
    (("extra", T.StringType()), True),         # added column
    (("a", T.LongType()), True),               # int -> bigint
    (("s", T.TimestampType()), True),          # string -> timestamp
], ids=["narrow", "bigint-to-string", "drop", "add", "int-to-bigint",
        "string-to-timestamp"])
def test_update_schema_enforces_widening_rule(spark, tmp_path, change, legal):
    """The table owns the one evolution rule: every column stays and its
    new type is a widening (schema_infer._WIDEN_OK) or unchanged; columns
    may be added. A refused change raises naming the column and commits
    nothing; a legal one commits and old files read forward."""
    t = IceboxTable.create(spark, str(tmp_path / "t"), RULE_V1, n_buckets=2)
    t.merge(spark.createDataFrame(
        [(1, 7, 2**40, "2024-01-02 03:04:05", 1, "upsert")],
        "doc_id long, a int, b long, s string, seq long, op string"), "b1")
    sid = t.snapshot["snapshot_id"]
    want = _rule_schema(change)
    if not legal:
        with pytest.raises(ValueError, match=f"'{change[0]}'.*not a widening"):
            t.update_schema(want)
        assert t.snapshot["snapshot_id"] == sid and t.schema == RULE_V1
        return
    t.update_schema(want)
    assert IceboxTable.load(spark, str(tmp_path / "t")).schema == want
    [row] = t.read().collect()
    assert (row.doc_id, row.a, row.b) == (1, 7, 2**40)
    assert dict(t.read().dtypes) == {f.name: f.dataType.simpleString() for f in want.fields}


def _add_column_after(spark, tmp_path, schema, row):
    """A table holding ``row`` in a file of ``schema``, then evolved by
    one added column: the read normalizes that file forward."""
    t = IceboxTable.create(spark, str(tmp_path / "t"), schema, n_buckets=2)
    log = T.StructType(schema.fields + [T.StructField("seq", T.LongType()),
                                        T.StructField("op", T.StringType())])
    t.merge(spark.createDataFrame([(*row, 1, "upsert")], log), "b1")
    t.update_schema(T.StructType(
        schema.fields + [T.StructField("lang", T.StringType())]))
    return t


def test_string_tokens_column_reads_after_added_column(spark, tmp_path):
    """The Arrow token normalization pass is chosen by type: a string
    column that happens to be named ``tokens`` reads back intact from an
    old-schema file; the int-array UDF would fail on it."""
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("tokens", T.StringType())])
    t = _add_column_after(spark, tmp_path, schema, (1, "a b c"))
    [row] = t.read().collect()
    assert (row.doc_id, row.tokens, row.lang) == (1, "a b c", None)
    assert dict(t.read().dtypes)["tokens"] == "string"


def test_bigint_tokens_keep_width_after_added_column(spark, tmp_path):
    """An ``array<bigint>`` tokens column is not the pass's ``array<int>``
    type, so old-schema files keep their wide values and their type; the
    pass would re-type them to int32 and wrap 2^40 to 0."""
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("tokens", T.ArrayType(T.LongType()))])
    t = _add_column_after(spark, tmp_path, schema, (1, [2**40, 7]))
    [row] = t.read().collect()
    assert row.tokens == [2**40, 7]
    assert dict(t.read().dtypes)["tokens"] == "array<bigint>"


def test_schema_evolution_widen_and_add(spark, table):
    v1 = generate_changelog(spark, 2_000, 200, seed=4, schema_version=1)
    table.merge(v1, "b1")
    table.update_schema(SCHEMA_V2)
    v2 = generate_changelog(spark, 4_000, 200, seed=4, schema_version=2).where(F.col("seq") > 2_000)
    table.merge(v2, "b2")

    got = table.read()
    assert dict(got.dtypes)["n_tok"] == "bigint"
    assert "lang" in got.columns

    full = v1.withColumn("lang", F.lit(None).cast("string")).unionByName(v2)
    expected = oracle.replay(full.toPandas(), value_cols=["tokens", "n_tok", "source", "lang"])
    actual = got.toPandas()
    # v1-era rows surface with lang NULL; n_tok comparable as int
    actual["n_tok"] = actual["n_tok"].astype("int64")
    expected["n_tok"] = expected["n_tok"].astype("int64")
    oracle.assert_table_equal(actual, expected)


def test_atomic_pointer_and_snapshot_history(spark, table):
    log = generate_changelog(spark, 1_000, 80, seed=8)
    table.merge(log, "b1")
    snaps = table.snapshots()
    assert [s["snapshot_id"] for s in snaps] == list(range(len(snaps)))
    assert snaps[-1]["parent"] == snaps[-2]["snapshot_id"]
    # reload from disk sees the same state
    t2 = IceboxTable.load(spark, table.path)
    assert t2.snapshot["snapshot_id"] == table.snapshot["snapshot_id"]
    oracle.assert_table_equal(t2.read().toPandas(), table.read().toPandas())


def test_compaction_preserves_state_and_bounds_files(spark, table):
    from sparkcdc.changelog import generate_changelog, scan_slice

    # MOR deltas accumulate one file set per commit — the case compaction
    # exists for (COW rewrites touched buckets wholly, leaving 1 file each,
    # so a COW-only table is already compact and compact() is a no-op)
    log = generate_changelog(spark, 3_000, 250, seed=17, dup_pct=10)
    for lo in range(0, 3_000, 1_000):
        table.merge(scan_slice(log, lo, lo + 1_000), f"b{lo}", mor=True)
    before = table.read().toPandas()
    n_files_before = len(table.snapshot["manifest"])
    m = table.compact()
    assert m["compacted_buckets"] > 0
    assert len(table.snapshot["manifest"]) <= table.n_buckets
    oracle.assert_table_equal(table.read().toPandas(), before)
    # compaction is a normal snapshot: time travel to pre-compact works
    oracle.assert_table_equal(
        table.read(snapshot_id=table.snapshot["parent"]).toPandas(), before
    )
    # further merges keep working on the compacted table
    more = generate_changelog(spark, 4_000, 250, seed=17).where(F.col("seq") > 3_000)
    table.merge(more, "b-after-compact")
    full = generate_changelog(spark, 4_000, 250, seed=17)
    # dup delivery in first 3k slices has no effect on final state
    expected = oracle.replay(full.toPandas())
    oracle.assert_table_equal(table.read().toPandas(), expected)


def test_streaming_tombstones_compaction(spark, tmp_path):
    """Unordered-delivery table: default compaction PRESERVES tombstones
    (a late lower-seq update must not resurrect a deleted row); explicit
    override drops them. Visible state unchanged either way."""
    from sparkcdc.changelog import generate_changelog

    t = IceboxTable.create(spark, str(tmp_path / "ts_tbl"), SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 2_000, 150, seed=23, delete_pct=30)
    t.merge(log, "b1", fence=False, tombstones=True)
    visible = t.read().toPandas()
    n_with_tombs = t.read(include_tombstones=True).count()
    assert n_with_tombs > len(visible)
    # default on an unordered table: tombstones survive compaction
    t.compact()
    assert t.read(include_tombstones=True).count() == n_with_tombs
    oracle.assert_table_equal(t.read().toPandas(), visible)
    # a late, LOWER-seq update for a deleted doc must stay dead
    tomb = t.read(include_tombstones=True, with_seq=True)
    dead = tomb.where(F.col("_deleted")).select("doc_id", "_seq").first()
    late = spark.createDataFrame(
        [(int(dead["_seq"]) - 1, "upsert", dead["doc_id"], [9], 1, "late", None)],
        "seq: long, op: string, doc_id: string, tokens: array<int>, n_tok: int, source: string, ts: timestamp",
    )
    t.merge(late, "late-echo", fence=False, tombstones=True)
    assert t.read().where(F.col("doc_id") == dead["doc_id"]).count() == 0
    # explicit override still drops tombstones physically
    t.compact(drop_tombstones=True)
    assert t.read(include_tombstones=True).count() == t.read().count()
    oracle.assert_table_equal(t.read().toPandas(), visible)


def test_skew_plan_selection_and_equivalence(spark, tmp_path):
    """A 60%-hot-key batch and a balanced one both converge to the oracle
    state through the merge's one LWW plan."""
    hot = generate_changelog(spark, 4_000, 300, seed=19, hot_key_pct=60)
    t1 = IceboxTable.create(spark, str(tmp_path / "hot"), SCHEMA_V1, n_buckets=8)
    t1.merge(hot, "b1")
    oracle.assert_table_equal(t1.read().toPandas(), oracle.replay(hot.toPandas()))

    flat = generate_changelog(spark, 4_000, 300, seed=19, hot_key_pct=0)
    t2 = IceboxTable.create(spark, str(tmp_path / "flat"), SCHEMA_V1, n_buckets=8)
    t2.merge(flat, "b1")
    oracle.assert_table_equal(t2.read().toPandas(), oracle.replay(flat.toPandas()))


def test_crash_before_commit_leaves_table_consistent(spark, table, tmp_path):
    """Atomicity: data files written by a merge that died BEFORE its
    snapshot commit are orphans — invisible to readers and harmless to
    later merges (the manifest, not the filesystem, defines the table)."""
    import os

    log = generate_changelog(spark, 2_000, 150, seed=29)
    table.merge(scan_slice(log, 0, 1_000), "b1")
    state = table.read().toPandas()
    # simulate a crashed merge: a full data dir for the NEXT commit id,
    # written but never committed (no snapshot, no VERSION bump)
    orphan_dir = os.path.join(table.path, "data", f"c{table.snapshot['snapshot_id'] + 1}")
    scan_slice(log, 1_000, 2_000).write.mode("overwrite").parquet(orphan_dir)
    t2 = IceboxTable.load(spark, table.path)
    oracle.assert_table_equal(t2.read().toPandas(), state)  # orphans invisible
    # the retried merge commits normally on top (next commit dir overwritten)
    t2.merge(scan_slice(log, 1_000, 2_000), "b2")
    expected = oracle.replay(log.toPandas())
    oracle.assert_table_equal(t2.read().toPandas(), expected)


def test_expire_snapshots_keeps_window_and_reclaims_files(spark, table):
    import glob as _glob
    import os

    log = generate_changelog(spark, 4_000, 250, seed=67)
    for lo in range(0, 4_000, 1_000):
        table.merge(scan_slice(log, lo, lo + 1_000), f"b{lo}")
    state = table.read().toPandas()
    files_before = len(_glob.glob(os.path.join(table.path, "data", "*", "_bucket=*", "*.parquet")))
    m = table.expire_snapshots(keep_last=2)
    assert m["expired_snapshots"] >= 3 and m["deleted_files"] > 0
    files_after = len(_glob.glob(os.path.join(table.path, "data", "*", "_bucket=*", "*.parquet")))
    assert files_after < files_before
    # current state intact, time travel within the kept window works
    oracle.assert_table_equal(table.read().toPandas(), state)
    kept = table.snapshots()
    assert len(kept) == 2
    table.read(snapshot_id=kept[0]["snapshot_id"]).count()
    # and the table keeps accepting merges afterwards
    more = generate_changelog(spark, 5_000, 250, seed=67).where(F.col("seq") > 4_000)
    table.merge(more, "b-after-expire")
    expected = oracle.replay(generate_changelog(spark, 5_000, 250, seed=67).toPandas())
    oracle.assert_table_equal(table.read().toPandas(), expected)


def test_single_key_update_rewrites_one_bucket_only(spark, tmp_path):
    """Manifest-level partition pruning: updating ONE doc touches exactly
    one bucket; every other bucket's files carry over by reference
    (identical paths), so merge cost is O(touched bucket), not O(table)."""
    t = IceboxTable.create(spark, str(tmp_path / "t"), SCHEMA_V1, n_buckets=16)
    log = generate_changelog(spark, 4_000, 2_000, seed=73, delete_pct=0)
    t.merge(log, "bootstrap")
    before = {e["path"] for e in t.snapshot["manifest"]}
    one = spark.createDataFrame(
        [(5_000, "upsert", "DOC-00000042", [1, 2, 3], 3, "src0", None)],
        "seq: long, op: string, doc_id: string, tokens: array<int>, n_tok: int, source: string, ts: timestamp",
    )
    m = t.merge(one, "tiny")
    assert len(m["touched_buckets"]) == 1
    after = {e["path"] for e in t.snapshot["manifest"]}
    carried = before & after
    # all but the touched bucket's file(s) are carried over untouched
    assert len(before - carried) <= 2  # only the rewritten bucket's files left
    assert len(after - before) >= 1    # the new bucket file(s)
    row = t.read().where(F.col("doc_id") == "DOC-00000042").collect()[0]
    assert row["tokens"] == [1, 2, 3] and row["n_tok"] == 3


def test_compact_is_metadata_only_without_work(spark, table):
    """An ordered (tombstone-free) table whose buckets each hold one file
    has nothing to compact: compact() must NOT rewrite the table (the
    drop-tombstones pass only expands to buckets that can actually contain
    tombstones, per footer stats)."""
    log = generate_changelog(spark, 2_000, 200, seed=77)
    table.merge(scan_slice(log, 0, 1_000), "b1")
    table.merge(scan_slice(log, 1_000, 2_000), "b2")
    # fold multi-file buckets once; afterwards every bucket has one file
    table.compact()
    snap_before = table.snapshot["snapshot_id"]
    files_before = {e["path"] for e in table.snapshot["manifest"]}
    m = table.compact()
    assert m["compacted_buckets"] == 0
    assert table.snapshot["snapshot_id"] == snap_before  # no new snapshot
    assert {e["path"] for e in table.snapshot["manifest"]} == files_before


def test_manifest_entries_track_tombstones(spark, tmp_path):
    t = IceboxTable.create(spark, str(tmp_path / "ts"), SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 500, 50, seed=78, delete_pct=30)
    t.merge(log, "b1", fence=False, tombstones=True)
    flags = [e["tombstones"] for e in t.snapshot["manifest"]]
    assert any(flags)  # deletes present → tombstone files flagged
    # compaction in unordered mode keeps tombstones but must still fold
    m = t.compact()  # defaults: drop_tombstones=False for unordered tables
    assert t.read(include_tombstones=True).count() >= t.read().count()


def test_expire_snapshots_sweeps_orphans(spark, table):
    import os
    log = generate_changelog(spark, 1_000, 100, seed=79)
    table.merge(log, "b1")
    # simulate a crashed merge: files written but never committed
    orphan_dir = os.path.join(table.path, "data", "c999", "_bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    before = table.read().count()
    # a FRESH unreferenced file is inside the grace window: it may belong
    # to an in-flight merge, so the default sweep must leave it alone
    res = table.expire_snapshots(keep_last=1, sweep_orphans=True)
    assert res["orphan_files_swept"] == 0
    assert os.path.exists(orphan)
    # age it past the grace window → genuinely dead debris, swept
    os.utime(orphan, (1, 1))
    res = table.expire_snapshots(keep_last=1, sweep_orphans=True)
    assert res["orphan_files_swept"] == 1
    assert not os.path.exists(orphan)
    assert table.read().count() == before  # live data untouched


def test_read_missing_snapshot_raises_value_error(spark, table):
    log = generate_changelog(spark, 500, 50, seed=80)
    table.merge(log, "b1")
    with pytest.raises(ValueError, match="snapshot 404 not found"):
        table.read(snapshot_id=404)


def test_committed_batches_bounded(spark, table, monkeypatch):
    import sparkcdc.icebox as icebox_mod
    monkeypatch.setattr(icebox_mod, "MAX_FENCE_IDS", 3)
    log = generate_changelog(spark, 1_000, 100, seed=81)
    for i, lo in enumerate(range(0, 1_000, 200)):
        table.merge(scan_slice(log, lo, lo + 200), f"b{i}")
    assert len(table.snapshot["committed_batches"]) == 3
    assert table.snapshot["committed_batches"] == ["b2", "b3", "b4"]
    # an evicted batch re-applied in fenced mode is an empty no-op
    m = table.merge(scan_slice(log, 0, 200), "b0")
    assert m["applied_events"] == 0


def test_merge_reports_write_amplification(spark, table):
    log = generate_changelog(spark, 1_000, 100, seed=85)
    m = table.merge(log, "b1")
    assert m["bytes_written"] > 0
    assert m["total_bytes"] >= m["bytes_written"] > 0
    # MOR writes O(batch): a tiny second batch must write far fewer bytes
    # than rewriting the touched buckets would
    m2 = table.merge(
        generate_changelog(spark, 100, 100, seed=86).withColumn(
            "seq", F.col("seq") + 1_000
        ),
        "b2",
        mor=True,
    )
    assert 0 < m2["bytes_written"] < m["bytes_written"]


def test_auto_merge_mode_cost_based(spark, table):
    """merge_mode auto: a big initial batch (nothing to rewrite → COW), a
    tiny follow-up on the now-large table goes MOR (delta files), and a
    table-sized rewrite goes back to COW — all from manifest stats, no
    extra IO. Final state identical to the oracle."""
    big = generate_changelog(spark, 4_000, 300, seed=91)
    m1 = table.merge(big, "b1", mor=None)
    assert m1["merge_plan"].endswith("+auto-cow")
    tiny = generate_changelog(spark, 4_020, 300, seed=91).where(F.col("seq") > 4_000)
    m2 = table.merge(tiny, "b2", mor=None)
    assert m2["merge_plan"].endswith("+auto-mor")
    assert any(e.get("kind") == "delta" for e in table.snapshot["manifest"])
    big2 = generate_changelog(spark, 9_000, 300, seed=91).where(F.col("seq") > 4_020)
    m3 = table.merge(big2, "b3", mor=None)
    assert m3["merge_plan"].endswith("+auto-cow")
    expected = oracle.replay(generate_changelog(spark, 9_000, 300, seed=91).toPandas())
    oracle.assert_table_equal(table.read().toPandas(), expected)


def test_read_keys_point_lookup_prunes_buckets(spark, table, monkeypatch):
    """Point lookups read only the buckets the requested keys hash to —
    O(k buckets), not O(table) — and return exactly the full-read rows."""
    log = generate_changelog(spark, 3_000, 300, seed=93, dup_pct=10)
    table.merge(log, "b1")
    full = {r["doc_id"]: r for r in table.read(with_seq=True).collect()}
    some = sorted(full)[:3]
    # spy on _read_manifest to count the entries actually read
    seen = {}
    orig = table._read_manifest

    def spy(snap, entries, **kw):
        seen["n_entries"] = len(entries)
        seen["buckets"] = {e["bucket"] for e in entries}
        return orig(snap, entries, **kw)

    monkeypatch.setattr(table, "_read_manifest", spy)
    got = {r["doc_id"]: r for r in table.read_keys(some, with_seq=True).collect()}
    assert set(got) == set(some)
    for k in some:
        assert got[k]["_seq"] == full[k]["_seq"]
        assert got[k]["n_tok"] == full[k]["n_tok"]
    assert seen["n_entries"] < len(table.snapshot["manifest"])
    assert len(seen["buckets"]) <= len(some)
    # a deleted / absent key returns nothing
    assert table.read_keys(["NOPE-404"]).count() == 0


def test_read_changes_incremental_cdc_out(spark, table):
    """Incremental read between snapshots (CDC out): net upserts + deletes
    only, at changed-bucket cost; compaction-only commits diff to empty."""
    log = generate_changelog(spark, 3_000, 250, seed=95, delete_pct=15)
    table.merge(scan_slice(log, 0, 1_500), "b1")
    s1 = table.snapshot["snapshot_id"]
    state1 = {r["doc_id"]: r for r in table.read(with_seq=True).collect()}
    table.merge(scan_slice(log, 1_500, 3_000), "b2")
    state2 = {r["doc_id"]: r for r in table.read(with_seq=True).collect()}

    ch = table.read_changes(s1)
    rows = ch.collect()
    ups = {r["doc_id"]: r for r in rows if r["_change"] == "upsert"}
    dels = {r["doc_id"] for r in rows if r["_change"] == "delete"}

    expected_ups = {
        k: v for k, v in state2.items()
        if k not in state1 or v["_seq"] > state1[k]["_seq"]
    }
    expected_dels = set(state1) - set(state2)
    assert set(ups) == set(expected_ups)
    assert dels == expected_dels
    for k, r in ups.items():
        assert r["_seq"] == state2[k]["_seq"] and r["n_tok"] == state2[k]["n_tok"]
    # replaying the change set onto state1 reproduces state2 exactly
    replayed = {k: v for k, v in state1.items() if k not in dels}
    replayed.update(ups)
    assert {k: v["_seq"] for k, v in replayed.items()} == {
        k: v["_seq"] for k, v in state2.items()
    }

    # compaction-only snapshot: logical diff is empty (MOR table variant)
    s2 = table.snapshot["snapshot_id"]
    table.merge(
        generate_changelog(spark, 3_050, 250, seed=95).where(F.col("seq") > 3_000),
        "b3", mor=True,
    )
    table.compact()
    s_after = table.snapshot["snapshot_id"]
    tiny = table.read_changes(s2, s_after).collect()
    assert all(r["_change"] in ("upsert", "delete") for r in tiny)
    post_compact = table.read_changes(s_after - 1, s_after).collect()
    # the compact commit itself (parent -> compacted) changes nothing visible
    assert post_compact == [] or all(False for _ in post_compact)


def test_read_changes_cdf_pre_post_images(spark, table):
    """Change-data-feed mode: an updated key yields its OLD payload as
    update_preimage and NEW payload as update_postimage; inserts carry
    only a postimage, deletes only a preimage — retract-and-apply over
    the CDF reproduces the new state (the incremental-aggregate-
    maintenance contract)."""
    log = generate_changelog(spark, 3_000, 250, seed=97, delete_pct=15)
    table.merge(scan_slice(log, 0, 1_500), "b1")
    s1 = table.snapshot["snapshot_id"]
    state1 = {r["doc_id"]: r for r in table.read(with_seq=True).collect()}
    table.merge(scan_slice(log, 1_500, 3_000), "b2")
    state2 = {r["doc_id"]: r for r in table.read(with_seq=True).collect()}

    rows = table.read_changes(s1, mode="cdf").collect()
    by_type: dict[str, dict] = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], {})[r["doc_id"]] = r

    ins = by_type.get("insert", {})
    pre = by_type.get("update_preimage", {})
    post = by_type.get("update_postimage", {})
    dels = by_type.get("delete", {})

    expected_ins = set(state2) - set(state1)
    expected_upd = {
        k for k in set(state1) & set(state2) if state2[k]["_seq"] > state1[k]["_seq"]
    }
    expected_del = set(state1) - set(state2)
    assert set(ins) == expected_ins
    assert set(pre) == expected_upd == set(post)
    assert set(dels) == expected_del

    for k, r in ins.items():
        assert (r["_seq"], r["n_tok"]) == (state2[k]["_seq"], state2[k]["n_tok"])
    for k, r in post.items():
        assert (r["_seq"], r["n_tok"]) == (state2[k]["_seq"], state2[k]["n_tok"])
    for k, r in pre.items():  # preimage is the OLD row, at its OLD seq
        assert (r["_seq"], r["n_tok"]) == (state1[k]["_seq"], state1[k]["n_tok"])
    for k, r in dels.items():  # delete carries the last visible payload
        assert (r["_seq"], r["n_tok"]) == (state1[k]["_seq"], state1[k]["n_tok"])

    # retract preimages/deletes, apply inserts/postimages -> state2
    replayed = {k: v for k, v in state1.items() if k not in dels and k not in pre}
    replayed.update(ins)
    replayed.update(post)
    assert {k: v["_seq"] for k, v in replayed.items()} == {
        k: v["_seq"] for k, v in state2.items()
    }

    # net is a projection of the same diff: preimages dropped, a delete
    # keeps its key and old _seq with its payload NULL, the rest upserts
    payload = [c for c in rows[0].__fields__ if c not in ("_change_type", "_seq")]
    projected = [
        ("delete", *[r[c] if c == "doc_id" else None for c in payload], r["_seq"])
        if r["_change_type"] == "delete"
        else ("upsert", *[r[c] for c in payload], r["_seq"])
        for r in rows
        if r["_change_type"] != "update_preimage"
    ]
    net = [tuple(r) for r in table.read_changes(s1).collect()]
    assert sorted(net, key=repr) == sorted(projected, key=repr)

    with pytest.raises(ValueError):
        table.read_changes(s1, mode="bogus")


def test_manifest_records_key_range_and_seq_stats(spark, table):
    """Every registered data file carries footer-derived key_min/key_max
    and seq_max in its manifest entry (no extra IO at read time)."""
    log = generate_changelog(spark, 2_000, 200, seed=98)
    table.merge(log, "b1")
    for e in table.snapshot["manifest"]:
        assert "key_min" in e and "key_max" in e and "seq_max" in e
        assert e["key_min"] <= e["key_max"]
        assert 0 < e["seq_max"] <= 2_000


def test_entries_for_keys_range_pruning_unit():
    """File-range pruning keeps covering + statless entries, drops the
    rest (truncation-safe: no bounds recorded means no pruning)."""
    entries = [
        {"path": "a", "bucket": 0, "key_min": "a000", "key_max": "a999"},
        {"path": "z", "bucket": 0, "key_min": "z000", "key_max": "z999"},
        {"path": "nostats", "bucket": 0},
    ]
    got = IceboxTable._entries_for_keys(entries, ["a500"])
    assert {e["path"] for e in got} == {"a", "nostats"}
    got = IceboxTable._entries_for_keys(entries, ["a500", "z001"])
    assert {e["path"] for e in got} == {"a", "z", "nostats"}
    got = IceboxTable._entries_for_keys(entries, ["m555"])
    assert {e["path"] for e in got} == {"nostats"}


def test_point_lookup_prunes_mor_delta_files_by_key_range(spark, tmp_path, monkeypatch):
    """A bucket stacked with MOR delta files from key-disjoint batches
    serves a point lookup from ONLY the files whose footer key range
    covers the key — file-level pruning on top of bucket pruning."""
    tbl = IceboxTable.create(spark, str(tmp_path / "kr"), SCHEMA_V1, n_buckets=1)
    rows_a = [(i + 1, "upsert", f"a{i:04d}", [i], i, "s") for i in range(50)]
    rows_z = [(i + 51, "upsert", f"z{i:04d}", [i], i + 100, "s") for i in range(50)]
    ddl = "seq: long, op: string, doc_id: string, tokens: array<int>, n_tok: int, source: string"
    tbl.merge(spark.createDataFrame(rows_a, ddl), "a", mor=True)
    tbl.merge(spark.createDataFrame(rows_z, ddl), "z", mor=True)
    assert len(tbl.snapshot["manifest"]) >= 2

    seen = {}
    orig = tbl._read_manifest

    def spy(snap, entries, **kw):
        seen["entries"] = list(entries)
        return orig(snap, entries, **kw)

    monkeypatch.setattr(tbl, "_read_manifest", spy)
    got = tbl.read_keys(["a0007"]).collect()
    assert [r["doc_id"] for r in got] == ["a0007"]
    assert all(e["key_min"].startswith("a") for e in seen["entries"])
    assert len(seen["entries"]) < len(tbl.snapshot["manifest"])


def test_compact_clusters_by_key_for_rowgroup_pruning(spark, table):
    """Compacted files are sorted by key within each bucket, so pushed
    point predicates prune row groups (tight per-row-group key ranges)."""
    import pyarrow.parquet as pq
    import os as _os

    log = generate_changelog(spark, 2_000, 200, seed=99)
    table.merge(scan_slice(log, 0, 1_000), "b1", mor=True)
    table.merge(scan_slice(log, 1_000, 2_000), "b2", mor=True)
    table.compact()
    entry = max(table.snapshot["manifest"], key=lambda e: e["rows"])
    t = pq.read_table(_os.path.join(table.path, entry["path"]), columns=["doc_id"])
    vals = t.column("doc_id").to_pylist()
    assert vals == sorted(vals)


def test_rebucket_preserves_state_and_evolves_layout(spark, table):
    """Partition evolution: rebucket rewrites into a new hash layout with
    identical visible state, swaps n_buckets + per-bucket lineage
    atomically, keeps the global LSN fence, and subsequent merges use the
    new layout. Time travel still materializes the old layout."""
    log = generate_changelog(spark, 4_000, 300, seed=101, dup_pct=10, delete_pct=10)
    table.merge(scan_slice(log, 0, 2_000), "b1")
    pre_sid = table.snapshot["snapshot_id"]
    pre_state = {r["doc_id"]: r["_seq"] for r in table.read(with_seq=True).collect()}

    res = table.rebucket(32)
    assert res["rebucketed"] and res["n_buckets"] == 32
    assert table.n_buckets == 32
    assert {e["bucket"] for e in table.snapshot["manifest"]} <= set(range(32))
    assert table.lineage["last_applied_lsn"] == 2_000
    # per-bucket lineage rebuilt in the NEW layout from footer seq stats
    assert all(int(b) < 32 for b in table.lineage["per_bucket"])
    got = {r["doc_id"]: r["_seq"] for r in table.read(with_seq=True).collect()}
    assert got == pre_state

    # merges keep working against the evolved layout; final state = oracle
    table.merge(scan_slice(log, 2_000, 4_000), "b2")
    expected = oracle.replay(log.toPandas())
    oracle.assert_table_equal(table.read().toPandas(), expected)
    # point lookups hash with the new bucket count
    some = sorted(pre_state)[0]
    assert table.read_keys([some]).count() in (0, 1)

    # time travel to the pre-rebucket snapshot still reads the old state
    old = {r["doc_id"]: r["_seq"] for r in table.read(pre_sid, with_seq=True).collect()}
    assert old == pre_state

    # no-op when the count is unchanged
    assert table.rebucket(32)["rebucketed"] is False


def test_read_changes_across_rebucket_boundary(spark, table):
    """Incremental reads spanning a partition-evolution commit stay
    logical: the bucket-granular diff sees every bucket as changed (ids
    mean different things across layouts), compares full states, and
    emits only the real row-level changes — a rebucket alone diffs to
    EMPTY, and rebucket+merge diffs to exactly the merge's changes."""
    log = generate_changelog(spark, 3_000, 250, seed=103, delete_pct=10)
    table.merge(scan_slice(log, 0, 1_500), "b1")
    s1 = table.snapshot["snapshot_id"]
    state1 = {r["doc_id"]: r["_seq"] for r in table.read(with_seq=True).collect()}

    table.rebucket(32)
    s_rb = table.snapshot["snapshot_id"]
    assert table.read_changes(s1, s_rb).count() == 0  # layout-only: no logical change

    table.merge(scan_slice(log, 1_500, 3_000), "b2")
    state2 = {r["doc_id"]: r["_seq"] for r in table.read(with_seq=True).collect()}
    rows = table.read_changes(s1, mode="cdf").collect()
    post = {
        r["doc_id"]: r["_seq"] for r in rows
        if r["_change_type"] in ("insert", "update_postimage")
    }
    dels = {r["doc_id"] for r in rows if r["_change_type"] == "delete"}
    replayed = {k: v for k, v in state1.items() if k not in dels}
    replayed.update(post)
    assert replayed == state2


def test_incremental_compaction_bounded_work(spark, table):
    """max_buckets bounds one maintenance cycle's work: only the worst
    (deepest file stack) buckets fold per call, repeated calls converge
    to fully-compacted, and visible state never changes — the 100 TB
    pattern of small compaction commits interleaved with ingest."""
    log = generate_changelog(spark, 3_000, 300, seed=105, dup_pct=10)
    for lo in range(0, 3_000, 600):
        table.merge(scan_slice(log, lo, lo + 600), f"b{lo}", mor=True)
    before = {r["doc_id"]: r["_seq"] for r in table.read(with_seq=True).collect()}
    multi = [
        b for b in {e["bucket"] for e in table.snapshot["manifest"]}
        if sum(1 for e in table.snapshot["manifest"] if e["bucket"] == b) > 1
    ]
    assert len(multi) > 2  # several buckets need work

    res = table.compact(max_buckets=2)
    assert res["compacted_buckets"] == 2
    assert res["remaining_buckets"] > 0
    assert {
        r["doc_id"]: r["_seq"] for r in table.read(with_seq=True).collect()
    } == before

    rounds = 0
    while table.compact(max_buckets=2)["remaining_buckets"] > 0:
        rounds += 1
        assert rounds < 20
    # converged: at most one file per bucket, state intact
    per_bucket: dict[int, int] = {}
    for e in table.snapshot["manifest"]:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    expected = oracle.replay(log.toPandas())
    oracle.assert_table_equal(table.read().toPandas(), expected)


def test_rebucket_folds_old_schema_files_forward(spark, table):
    """A rebucket after mid-stream schema evolution normalizes v1-era
    files to the current schema while re-hashing (one rewrite pays both
    debts): every rewritten manifest entry is current-version, and the
    visible state matches the evolved-schema oracle exactly."""
    from sparkcdc.icebox import bucket_expr

    v1 = generate_changelog(spark, 2_000, 200, seed=6, schema_version=1)
    table.merge(v1, "b1")
    table.update_schema(SCHEMA_V2)
    # second merge touches only a bucket subset so v1-era files SURVIVE
    v2 = generate_changelog(spark, 4_000, 200, seed=6, schema_version=2).where(
        (F.col("seq") > 2_000) & (bucket_expr("doc_id", 8) < 2)
    )
    table.merge(v2, "b2")
    assert {e["schema_v"] for e in table.snapshot["manifest"]} == {1, 2}

    table.rebucket(32)
    assert {e["schema_v"] for e in table.snapshot["manifest"]} == {2}
    got = table.read()
    assert dict(got.dtypes)["n_tok"] == "bigint" and "lang" in got.columns
    full = v1.withColumn("lang", F.lit(None).cast("string")).unionByName(v2)
    expected = oracle.replay(
        full.toPandas(), value_cols=["tokens", "n_tok", "source", "lang"]
    )
    actual = got.toPandas()
    actual["n_tok"] = actual["n_tok"].astype("int64")
    expected["n_tok"] = expected["n_tok"].astype("int64")
    oracle.assert_table_equal(actual, expected)


def test_rebucket_preserves_tombstones_on_unordered_table(spark, tmp_path):
    """Unordered-delivery tables keep their tombstones through a rebucket
    (same rule as compact): a late LOWER-seq update for a deleted doc must
    stay dead in the NEW layout — dropping tombstones during the rewrite
    would let it resurrect."""
    t = IceboxTable.create(spark, str(tmp_path / "rb_ts"), SCHEMA_V1, n_buckets=4)
    log = generate_changelog(spark, 2_000, 150, seed=107, delete_pct=30)
    t.merge(log, "b1", fence=False, tombstones=True)
    visible = t.read().toPandas()
    n_with_tombs = t.read(include_tombstones=True).count()
    assert n_with_tombs > len(visible)

    t.rebucket(16)
    assert t.read(include_tombstones=True).count() == n_with_tombs
    oracle.assert_table_equal(t.read().toPandas(), visible)

    tomb = t.read(include_tombstones=True, with_seq=True)
    dead = tomb.where(F.col("_deleted")).select("doc_id", "_seq").first()
    late = spark.createDataFrame(
        [(int(dead["_seq"]) - 1, "upsert", dead["doc_id"], [9], 1, "late", None)],
        "seq: long, op: string, doc_id: string, tokens: array<int>, "
        "n_tok: int, source: string, ts: timestamp",
    )
    t.merge(late, "late-echo", fence=False, tombstones=True)
    assert t.read().where(F.col("doc_id") == dead["doc_id"]).count() == 0


def test_entries_for_keys_type_mismatch_degrades_to_no_pruning():
    """A caller-supplied key whose type can't compare against the
    JSON-restored bounds (int vs string) must keep the entry
    conservatively, not raise TypeError on the driver."""
    entries = [
        {"path": "a", "bucket": 0, "key_min": "a000", "key_max": "a999"},
        {"path": "n", "bucket": 0, "key_min": 100, "key_max": 200},
    ]
    got = IceboxTable._entries_for_keys(entries, [150])
    # int key: prunes by the int bounds, keeps the string-bounds entry
    assert {e["path"] for e in got} == {"a", "n"}
    got = IceboxTable._entries_for_keys(entries, ["a500"])
    assert {e["path"] for e in got} == {"a", "n"}


def test_rebucket_lineage_floored_at_global_fence(spark, table):
    """After a rebucket, EVERY bucket of the new layout reports a
    last-applied LSN >= the carried global fence — including buckets whose
    newest rows were dropped tombstones or that came out empty — so
    per-partition lineage consumers don't see a regression across
    maintenance rewrites (ADVICE r3)."""
    log = generate_changelog(spark, 2_000, 150, seed=7)
    table.merge(scan_slice(log, 0, 2_000), "b1")
    glob = int(table.lineage["last_applied_lsn"])
    assert glob > 0
    table.rebucket(16)
    lin = table.lineage
    assert int(lin["last_applied_lsn"]) == glob
    per = lin["per_bucket"]
    assert set(per) == {str(b) for b in range(16)}
    assert all(int(v) >= glob for v in per.values())


def test_manifest_column_stats_recorded(spark, table):
    """Every primitive payload column gets [min, max] bounds in the
    manifest (Iceberg column-metrics analog), from footer stats already
    in hand."""
    log = generate_changelog(spark, 1_000, 100, seed=90)
    table.merge(log, "b1")
    stats = [e.get("col_stats", {}) for e in table.snapshot["manifest"]]
    assert all("n_tok" in cs and "source" in cs for cs in stats)
    lo = min(cs["n_tok"][0] for cs in stats)
    hi = max(cs["n_tok"][1] for cs in stats)
    real = table.read().agg(F.min("n_tok"), F.max("n_tok")).collect()[0]
    assert lo <= real[0] and hi >= real[1]


def test_read_filters_prune_manifest_files(spark, tmp_path):
    """Effect test for manifest-level data skipping: a range read on a
    stat column launches a scan over ONLY the files whose bounds match.
    Batch 2 touches a few buckets with out-of-range n_tok; a
    n_tok >= 100 read must scan just those buckets' files — not the
    table — and return exactly the matching rows."""
    import os
    t = IceboxTable.create(spark, str(tmp_path / "tbl"), SCHEMA_V1, n_buckets=8)
    schema = "doc_id: string, tokens: array<int>, n_tok: int, source: string, seq: long, op: string"
    batch1 = spark.createDataFrame(
        [(f"a{i}", [1], 1 + i % 5, "s", i + 1, "upsert") for i in range(200)], schema
    )
    t.merge(batch1, "b1")
    batch2 = spark.createDataFrame(
        [(f"z{i}", [2], 100 + i, "s", 1000 + i, "upsert") for i in range(3)], schema
    )
    t.merge(batch2, "b2")

    out = t.read(filters=[("n_tok", ">=", 100)])
    assert {r["doc_id"] for r in out.collect()} == {"z0", "z1", "z2"}
    scanned = {os.path.relpath(f.replace("file:", ""), t.path) for f in out.inputFiles()}
    matching = {
        e["path"]
        for e in t.snapshot["manifest"]
        if IceboxTable._entry_may_match(e, "n_tok", ">=", 100)
    }
    all_files = {e["path"] for e in t.snapshot["manifest"]}
    assert scanned <= matching            # plan touches only matching files
    assert len(matching) < len(all_files)  # and the pruning actually bit
    # between + equality forms agree with a full-scan filter
    full = t.read().where("n_tok between 101 and 102").count()
    assert t.read(filters=[("n_tok", "between", (101, 102))]).count() == full


def test_read_filters_never_prune_mor_delta_buckets(spark, tmp_path):
    """Correctness guard: a bucket with merge-on-read deltas is exempt
    from stat pruning — dropping the delta file holding a key's winner
    would resurrect the stale base row. The filtered read must reflect
    LWW state, not file-local state."""
    t = IceboxTable.create(spark, str(tmp_path / "tbl"), SCHEMA_V1, n_buckets=2)
    schema = "doc_id: string, tokens: array<int>, n_tok: int, source: string, seq: long, op: string"
    # base: key k with n_tok=150 (matches the filter)
    t.merge(spark.createDataFrame([("k", [1], 150, "s", 1, "upsert")], schema), "b1")
    # delta: k updated to n_tok=3 (does NOT match) — winner by seq
    t.merge(
        spark.createDataFrame([("k", [2], 3, "s", 2, "upsert")], schema),
        "b2",
        mor=True,
    )
    # a naive per-file prune would drop the delta (stats [3,3]) and emit
    # the stale base row; correct answer: no rows match
    assert t.read(filters=[("n_tok", ">=", 100)]).count() == 0
    assert t.read(filters=[("n_tok", "<=", 10)]).collect()[0]["n_tok"] == 3


def test_compact_cluster_by_enables_range_file_skipping(spark, tmp_path):
    """Iceberg sort-order analog: compacting with cluster_by=<stat col> +
    max_file_rows splits each bucket into files covering CONTIGUOUS
    ranges of that column, so a filtered read prunes files WITHIN a
    bucket — the file-level data-skipping regime a 100 TB multi-file
    bucket actually lives in."""
    import os
    t = IceboxTable.create(spark, str(tmp_path / "tbl"), SCHEMA_V1, n_buckets=2)
    schema = "doc_id: string, tokens: array<int>, n_tok: int, source: string, seq: long, op: string"
    rows = [(f"d{i:04d}", [1], i, "s", i + 1, "upsert") for i in range(400)]
    t.merge(spark.createDataFrame(rows, schema), "b1")
    m = t.compact(cluster_by="n_tok", max_file_rows=50)
    manifest = t.snapshot["manifest"]
    by_bucket: dict[int, list[dict]] = {}
    for e in manifest:
        by_bucket.setdefault(e["bucket"], []).append(e)
    # buckets split into multiple files with non-overlapping n_tok ranges
    assert all(len(es) >= 3 for es in by_bucket.values())
    for es in by_bucket.values():
        spans = sorted(tuple(e["col_stats"]["n_tok"]) for e in es)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2  # contiguous, non-overlapping
    # the range read scans only the covering files, not the bucket
    out = t.read(filters=[("n_tok", "between", (100, 120))])
    assert out.count() == 21
    scanned = {os.path.relpath(f.replace("file:", ""), t.path) for f in out.inputFiles()}
    assert len(scanned) < len(manifest) / 2
    # state integrity across the clustered rewrite
    assert t.read().count() == 400


def test_history_and_timestamp_time_travel(spark, table):
    """Iceberg-parity introspection: history() lists every retained
    snapshot with commit time + totals; read(as_of=ts) resolves to the
    newest snapshot at or before ts."""
    import time

    from sparkcdc.icebox import SnapshotExpiredError

    log = generate_changelog(spark, 2_000, 150, seed=95)
    table.merge(scan_slice(log, 0, 1_000), "b1")
    state1 = table.read().toPandas()
    t_between = time.time()
    time.sleep(0.05)
    table.merge(scan_slice(log, 1_000, 2_000), "b2")

    h = table.history().orderBy("snapshot_id").collect()
    assert [r["snapshot_id"] for r in h] == [0, 1, 2]
    assert [r["operation"] for r in h] == ["create", "merge", "merge"]
    assert h[1]["batch_id"] == "b1" and h[2]["batch_id"] == "b2"
    ats = [r["committed_at"] for r in h]
    assert all(a is not None for a in ats) and ats == sorted(ats)
    assert h[2]["total_rows"] >= h[1]["total_rows"] > 0

    oracle.assert_table_equal(table.read(as_of=t_between).toPandas(), state1)
    # as-of now == current state; pre-history ts raises typed error
    oracle.assert_table_equal(
        table.read(as_of=time.time()).toPandas(), table.read().toPandas()
    )
    with pytest.raises(SnapshotExpiredError):
        table.read(as_of=1.0)
    with pytest.raises(ValueError):
        table.read(1, as_of=t_between)


def test_read_changes_between_timestamps_and_tmp_debris_sweep(spark, table):
    """read_changes_between resolves snapshots by commit time; and the
    orphan sweep also clears crashed writers' metadata staging debris
    (.tmp- files), age-gated like data-file orphans."""
    import os
    import time

    log = generate_changelog(spark, 2_000, 150, seed=97)
    table.merge(scan_slice(log, 0, 1_000), "b1")
    t_between = time.time()
    time.sleep(0.05)
    table.merge(scan_slice(log, 1_000, 2_000), "b2")

    by_ts = table.read_changes_between(t_between).orderBy("doc_id", "_seq")
    by_id = table.read_changes(1).orderBy("doc_id", "_seq")
    assert [tuple(r) for r in by_ts.collect()] == [tuple(r) for r in by_id.collect()]

    # staged-then-crashed metadata temp: fresh → kept, aged → swept
    debris = os.path.join(table.path, "metadata", ".tmp-deadbeef")
    with open(debris, "w") as fh:
        fh.write("{}")
    table.expire_snapshots(sweep_orphans=True)
    assert os.path.exists(debris)
    os.utime(debris, (1, 1))
    res = table.expire_snapshots(sweep_orphans=True)
    assert not os.path.exists(debris) and res["orphan_files_swept"] >= 1


def test_filtered_read_equals_plain_filter_on_all_table_shapes(spark, tmp_path):
    """Invariant: read(filters=...) is a pure OPTIMIZATION — for every
    op and every table shape (COW single-commit, COW multi-commit, MOR
    deltas with reordered winners, post-compaction with file splits) it
    returns exactly read() filtered by the same predicate."""
    t = IceboxTable.create(spark, str(tmp_path / "tbl"), SCHEMA_V1, n_buckets=4)
    schema = "doc_id: string, tokens: array<int>, n_tok: int, source: string, seq: long, op: string"
    t.merge(spark.createDataFrame(
        [(f"d{i:03d}", [1], i, "s" if i % 3 else "t", i + 1, "upsert") for i in range(150)],
        schema), "b1")
    # MOR deltas that MOVE winners across the filter boundary
    t.merge(spark.createDataFrame(
        [(f"d{i:03d}", [2], 200 - i, "s", 1000 + i, "upsert") for i in range(0, 150, 7)],
        schema), "b2", mor=True)

    cases = [
        [("n_tok", ">=", 100)],
        [("n_tok", "<", 40)],
        [("n_tok", "between", (30, 90))],
        [("source", "=", "t")],
        [("n_tok", ">", 50), ("source", "=", "s")],
        [("n_tok", "<=", 0)],
    ]

    def check():
        for fs in cases:
            expect = sorted(
                tuple(r) for r in t.read().where(t._filters_expr(fs)).collect()
            )
            got = sorted(tuple(r) for r in t.read(filters=fs).collect())
            assert got == expect, fs

    check()
    t.compact(cluster_by="n_tok", max_file_rows=20)  # splits + re-sort
    check()


def test_as_of_on_upgraded_table_without_commit_timestamps(spark, table):
    """ADVICE r4 (icebox.py:410): commits written before committed_at was
    recorded must stay time-travelable — read(as_of=now) on an upgraded
    table resolves to the newest legacy snapshot instead of raising."""
    import json as _json
    import time

    log = generate_changelog(spark, 1_000, 100, seed=83)
    table.merge(scan_slice(log, 0, 500), "b1")
    table.merge(scan_slice(log, 500, 1_000), "b2")
    state = table.read().toPandas()
    # simulate a pre-upgrade table: strip committed_at from every commit
    for name in table._store.list_names("commit-") + table._store.list_names(
        "checkpoint-"
    ):
        d = _json.loads(table._store.get(name))
        d.pop("committed_at", None)
        table._store.put(name, _json.dumps(d).encode())
    t2 = IceboxTable.load(spark, table.path)
    sid = t2.snapshot_as_of(time.time())
    assert sid == t2.snapshot["snapshot_id"]
    oracle.assert_table_equal(t2.read(as_of=time.time()).toPandas(), state)
    # history() still renders (committed_at null for legacy rows)
    assert t2.history().count() == len(t2.snapshots())


def test_stale_handle_commit_after_expiration_is_safe(spark, tmp_path):
    """ADVICE r4 (icebox.py:436): after expire_snapshots frees commit
    names below the checkpoint floor, a writer holding a STALE handle
    must not re-win put_if_absent on a freed name (which would orphan a
    commit file and poison snapshots() for every reader). The guard
    raises CommitConflictError; merge's retry loop refreshes and lands
    the batch correctly."""
    from sparkcdc.commitstore import InMemoryCommitStore
    from sparkcdc.icebox import CommitConflictError

    mem = InMemoryCommitStore()
    path = str(tmp_path / "tbl")
    ta = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4, store=mem)
    tb = IceboxTable.load(spark, path, store=mem)  # snapshot 0 handle
    log = generate_changelog(spark, 2_000, 100, seed=85)
    for i in range(6):
        ta.merge(scan_slice(log, i * 300, (i + 1) * 300), f"b{i}")
    ta.expire_snapshots(keep_last=1)  # floor checkpoint at 6; names 0..5 freed
    floor = min(ta._log_ids("checkpoint"))
    assert floor > 1

    # the raw guard: a stale handle's direct commit attempt is rejected
    with pytest.raises(CommitConflictError, match="stale table handle"):
        tb._try_commit({"parent": tb.snapshot["snapshot_id"], "added": [],
                        "removed_buckets": [], "batch_id": "stale-x"})
    # no freed name was re-created below the floor
    assert all(i >= floor for i in tb._log_ids("commit"))

    # the merge path self-heals via refresh-and-retry
    m = tb.merge(scan_slice(log, 1_800, 2_000), "b-late")
    assert m["skipped"] is False
    expected = oracle.replay(scan_slice(log, 0, 2_000).toPandas())
    oracle.assert_table_equal(ta.refresh() and ta.read().toPandas(), expected)
    # history stays fully renderable for every reader
    assert len(ta.snapshots()) == len(ta._history_ids()) or ta.history().count() > 0


def test_snapshots_skips_orphan_commit_below_floor(spark, tmp_path):
    """A debris commit-<id>.json below the earliest checkpoint (crashed
    stale writer whose retraction never ran) must be skipped by
    snapshots()/history()/expire rather than crashing the fold."""
    from sparkcdc.commitstore import InMemoryCommitStore

    mem = InMemoryCommitStore()
    path = str(tmp_path / "tbl")
    ta = IceboxTable.create(spark, path, SCHEMA_V1, n_buckets=4, store=mem)
    log = generate_changelog(spark, 1_500, 100, seed=86)
    for i in range(5):
        ta.merge(scan_slice(log, i * 300, (i + 1) * 300), f"b{i}")
    ta.expire_snapshots(keep_last=1)
    floor = min(ta._log_ids("checkpoint"))
    import json as _json

    mem.put(f"commit-{floor - 2}.json",
            _json.dumps({"snapshot_id": floor - 2, "parent": floor - 3,
                         "added": [], "removed_buckets": []}).encode())
    snaps = ta.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [s for s in ta._history_ids()
                                                if s >= floor]
    assert ta.history().count() == len(snaps)
    ta.expire_snapshots(keep_last=1)  # does not crash on the orphan
    t2 = IceboxTable.load(spark, path, store=mem)  # reload path unaffected
    assert t2.read().count() == ta.read().count()


def test_in_filter_prunes_files_and_matches_isin(spark, tmp_path):
    """`("col", "in", values)` — the shard-slice read pattern (PackedTable
    repacks O(touched shards)): file-level skip iff NO listed value falls
    in a file's [min, max], row filter == .isin."""
    import os
    t = IceboxTable.create(spark, str(tmp_path / "tbl"), SCHEMA_V1, n_buckets=2)
    schema = "doc_id: string, tokens: array<int>, n_tok: int, source: string, seq: long, op: string"
    rows = [
        (f"d{i:04d}", [1], i, f"s{i // 100}", i + 1, "upsert") for i in range(400)
    ]
    t.merge(spark.createDataFrame(rows, schema), "b1")
    t.compact(cluster_by="source", max_file_rows=60)
    out = t.read(filters=[("source", "in", ["s0", "s3"])])
    assert out.count() == 200
    expect = t.read().where(F.col("source").isin("s0", "s3"))
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in expect.collect()
    )
    scanned = {os.path.relpath(f.replace("file:", ""), t.path) for f in out.inputFiles()}
    assert len(scanned) < len(t.snapshot["manifest"])


def test_zorder_compaction_skips_files_on_both_dimensions(spark, tmp_path):
    """cluster_by=[a, b] interleaves the two columns on a Z-order curve:
    a filter on the SECOND column alone still file-skips, which a
    lexicographic sort by the first column cannot do (every file spans
    all of b). Same rows, same filters — only the layout differs."""
    import os

    schema2 = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.IntegerType()),
        ]
    )
    rows = [
        (f"d{i:05d}", i // 64, i % 64, i + 1, "upsert") for i in range(4096)
    ]
    in_schema = "doc_id: string, a: int, b: int, seq: long, op: string"

    def scanned(t, filters):
        out = t.read(filters=filters)
        return {
            os.path.relpath(f.replace("file:", ""), t.path)
            for f in out.inputFiles()
        }

    lex = IceboxTable.create(spark, str(tmp_path / "lex"), schema2, n_buckets=1)
    lex.merge(spark.createDataFrame(rows, in_schema), "b1")
    lex.compact(cluster_by="a", max_file_rows=256)

    zo = IceboxTable.create(spark, str(tmp_path / "zo"), schema2, n_buckets=1)
    zo.merge(spark.createDataFrame(rows, in_schema), "b1")
    zo.compact(cluster_by=["a", "b"], max_file_rows=256)

    n_files = len(zo.snapshot["manifest"])
    assert n_files >= 8  # 4096 rows / 256-row files

    flt_b = [("b", "between", (0, 7))]
    # correctness first: both layouts return identical rows
    want = sorted(r.doc_id for r in lex.read(filters=flt_b).collect())
    assert sorted(r.doc_id for r in zo.read(filters=flt_b).collect()) == want
    assert len(want) == 4096 // 8
    # lexicographic-by-a: every file spans all of b -> no skipping
    assert len(scanned(lex, flt_b)) == len(lex.snapshot["manifest"])
    # z-order: the b-range is bounded per file -> real skipping
    assert len(scanned(zo, flt_b)) <= n_files // 2
    # and the leading dimension still skips too
    flt_a = [("a", "between", (0, 7))]
    assert len(scanned(zo, flt_a)) <= n_files // 2
    assert sorted(r.doc_id for r in zo.read(filters=flt_a).collect()) == sorted(
        r.doc_id for r in lex.read(filters=flt_a).collect()
    )
    # non-numeric z-order column is rejected
    with pytest.raises(ValueError, match="numeric"):
        zo.compact(cluster_by=["doc_id", "a"])
