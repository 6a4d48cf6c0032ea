"""Write-audit-publish (staged commits) + named tags.

The reference's load loop commits every fetched page unconditionally
(JiraInputPlugin.java:106-128); WAP is the production gate the north rule's
exactly-once sink enables: stage a batch invisibly, audit the would-be
state, publish atomically (or abort without a trace). Tags are named
retention roots for audit pins.
"""

from __future__ import annotations

import os

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from sparkcdc import oracle
from sparkcdc.audit import (
    audit_staged,
    check_key_uniqueness,
    check_lsn_advance,
    check_null_fraction,
    check_row_count,
    check_token_invariant,
    wap_ingest,
)
from sparkcdc.changelog import generate_changelog, scan_slice
from sparkcdc.icebox import CommitConflictError, IceboxTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)

def checks():
    # built lazily: pyspark Column construction needs an active session
    return [
        check_row_count(min_rows=1),
        check_token_invariant(),
        check_key_uniqueness(),
        check_lsn_advance(),
    ]


def make_table(tmp_path, spark, name="tbl", n_buckets=8):
    return IceboxTable.create(spark, str(tmp_path / name), SCHEMA, n_buckets=n_buckets)


def test_stage_is_invisible_then_publish_equals_direct_merge(spark, tmp_path):
    log = generate_changelog(spark, 2_000, 200, seed=7, dup_pct=10, shuffled=True)
    twin = make_table(tmp_path, spark, "twin")
    twin.merge(log, "b1")
    expected = twin.read().toPandas()

    tbl = make_table(tmp_path, spark, "wap")
    res = tbl.merge(log, "b1", stage="audit-1")
    assert res["staged"] and res["wap_id"] == "audit-1"
    assert res["applied_events"] >= 2_000
    # invisible to every reader: empty table, other handles see nothing
    assert tbl.read().count() == 0
    assert IceboxTable.load(spark, tbl.path).read().count() == 0
    assert tbl.snapshot["snapshot_id"] == 0
    # the audit view IS the would-be published state
    oracle.assert_table_equal(tbl.read_staged("audit-1").toPandas(), expected)
    # staged introspection
    assert list(tbl.staged()) == ["audit-1"]
    pub = tbl.publish_staged("audit-1")
    assert not pub["skipped"] and pub["published_snapshot"] == 1
    oracle.assert_table_equal(tbl.read().toPandas(), expected)
    assert tbl.lineage["last_applied_lsn"] == 2_000
    assert tbl.staged() == {}


def test_staging_same_wap_id_twice_fails(spark, tmp_path):
    log = generate_changelog(spark, 300, 50, seed=3)
    tbl = make_table(tmp_path, spark)
    tbl.merge(log, "b1", stage="w1")
    with pytest.raises(ValueError, match="already exists"):
        tbl.merge(log, "b2", stage="w1")
    with pytest.raises(ValueError, match="invalid stage id"):
        tbl.merge(log, "b3", stage="bad/../id")


def test_publish_crash_before_cleanup_replays_as_fenced_noop(spark, tmp_path):
    log = generate_changelog(spark, 500, 80, seed=11)
    tbl = make_table(tmp_path, spark)
    tbl.merge(log, "b1", stage="w1")
    staged_file = os.path.join(tbl.path, "metadata", "staged-w1.json")
    parked = open(staged_file, "rb").read()
    pub = tbl.publish_staged("w1")
    assert not pub["skipped"]
    expected = tbl.read().toPandas()
    # crash between the publish CAS and the staged-file delete: the parked
    # delta is still on disk while its batch is already fenced
    with open(staged_file, "wb") as f:
        f.write(parked)
    again = tbl.publish_staged("w1")
    assert again["skipped"] and again["reason"] == "already-committed"
    assert not os.path.exists(staged_file)  # cleanup finished
    oracle.assert_table_equal(tbl.read().toPandas(), expected)
    assert tbl.snapshot["snapshot_id"] == 1  # no second commit


def test_publish_rebases_past_disjoint_main_commit(spark, tmp_path):
    # split one changelog into bucket-disjoint halves: staged half A is
    # published AFTER half B lands on main — the parked delta re-parents
    # past B's commit and the final state equals a serial replay of A∪B
    log = generate_changelog(spark, 2_000, 200, seed=13, delete_pct=5)
    nb = 8
    b = bucket_expr("doc_id", nb)
    half_a, half_b = log.where(b < 4), log.where(b >= 4)
    tbl = make_table(tmp_path, spark, n_buckets=nb)
    tbl.merge(half_a, "batch-a", stage="wap-a")
    other = IceboxTable.load(spark, tbl.path)
    other.merge(half_b, "batch-b")
    pub = tbl.publish_staged("wap-a")
    assert not pub["skipped"] and pub["published_snapshot"] == 2
    expected = oracle.replay(log.toPandas())
    oracle.assert_table_equal(tbl.read().toPandas(), expected)
    assert tbl.lineage["last_applied_lsn"] == 2_000


def test_publish_conflicts_with_overlapping_cow_rewrite(spark, tmp_path):
    # delete-free log: the recovery path re-merges OLD events without the
    # fence, which must not interact with physically-dropped deletes
    log = generate_changelog(spark, 1_000, 100, seed=17, delete_pct=0)
    tbl = make_table(tmp_path, spark)
    tbl.merge(scan_slice(log, 0, 500), "b1", stage="w1")
    # a COW merge on main rewrites buckets the staged rewrite also touched:
    # the parked files were computed against a base that no longer exists
    IceboxTable.load(spark, tbl.path).merge(scan_slice(log, 500, 1_000), "b2")
    with pytest.raises(CommitConflictError):
        tbl.publish_staged("w1")
    # recovery: abort, refresh, re-stage against the new base
    tbl.abort_staged("w1")
    tbl.refresh()
    tbl.merge(scan_slice(log, 0, 500), "b1", stage="w1", fence=False)
    pub = tbl.publish_staged("w1")
    assert not pub["skipped"]
    oracle.assert_table_equal(tbl.read().toPandas(), oracle.replay(log.toPandas()))


def test_staged_mor_delta_publishes_over_concurrent_append(spark, tmp_path):
    # MOR staged deltas are pure-append: they commute with concurrent MOR
    # merges even on the SAME buckets (read-time LWW resolves) — WAP with
    # zero publish conflicts, the 100 TB steady-state shape
    log = generate_changelog(spark, 1_500, 150, seed=19, dup_pct=10)
    tbl = make_table(tmp_path, spark)
    tbl.merge(scan_slice(log, 500, 1_500), "late", stage="w-late", mor=True, fence=False)
    IceboxTable.load(spark, tbl.path).merge(
        scan_slice(log, 0, 500), "early", mor=True, fence=False
    )
    pub = tbl.publish_staged("w-late")
    assert not pub["skipped"]
    oracle.assert_table_equal(tbl.read().toPandas(), oracle.replay(log.toPandas()))


def test_orphan_sweep_exempts_staged_files(spark, tmp_path):
    log = generate_changelog(spark, 600, 60, seed=23)
    tbl = make_table(tmp_path, spark)
    tbl.merge(scan_slice(log, 0, 300), "b0")
    res = tbl.merge(scan_slice(log, 300, 600), "b1", stage="w1")
    staged_paths = [
        os.path.join(tbl.path, e["path"])
        for e in tbl.staged()["w1"]["delta"]["added"]
    ]
    assert staged_paths and all(os.path.exists(p) for p in staged_paths)
    # plant a true orphan (a crashed writer's debris) in its own commit dir
    orphan_dir = os.path.join(tbl.path, "data", "c99-deadbeef", "_bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    open(orphan, "wb").write(b"junk")
    sw = tbl.expire_snapshots(keep_last=1, sweep_orphans=True, orphan_grace_sec=0.0)
    assert sw["orphan_files_swept"] >= 1
    assert not os.path.exists(orphan)
    # staged data files survived an age-0 sweep: metadata-referenced
    assert all(os.path.exists(p) for p in staged_paths), res
    pub = tbl.publish_staged("w1")
    assert not pub["skipped"]
    oracle.assert_table_equal(tbl.read().toPandas(), oracle.replay(log.toPandas()))


def test_abort_staged_deletes_parked_files(spark, tmp_path):
    log = generate_changelog(spark, 400, 50, seed=29)
    tbl = make_table(tmp_path, spark)
    tbl.merge(scan_slice(log, 0, 200), "b0")
    before = tbl.read().toPandas()
    tbl.merge(scan_slice(log, 200, 400), "b1", stage="w1")
    paths = [
        os.path.join(tbl.path, e["path"])
        for e in tbl.staged()["w1"]["delta"]["added"]
    ]
    res = tbl.abort_staged("w1")
    assert res["deleted_files"] == len(paths) > 0
    assert not any(os.path.exists(p) for p in paths)
    assert tbl.staged() == {}
    oracle.assert_table_equal(tbl.read().toPandas(), before)
    with pytest.raises(KeyError):
        tbl.publish_staged("w1")


# ---------------- audit checks + wap_ingest ----------------


def test_wap_ingest_publishes_clean_batch(spark, tmp_path):
    log = generate_changelog(spark, 1_200, 150, seed=31, dup_pct=5, shuffled=True)
    twin = make_table(tmp_path, spark, "twin")
    twin.merge(log, "b1")
    tbl = make_table(tmp_path, spark, "wap")
    res = wap_ingest(tbl, log, "b1", checks=checks())
    assert not res["skipped"] and res["audit"]["ok"]
    assert set(res["audit"]["results"]) == {
        "row_count", "token_invariant", "key_unique", "lsn_advance"
    }
    oracle.assert_table_equal(tbl.read().toPandas(), twin.read().toPandas())
    # exactly-once under driver retry of the whole flow
    again = wap_ingest(tbl, log, "b1", checks=checks())
    assert again["skipped"]


def test_wap_ingest_aborts_bad_batch_table_untouched(spark, tmp_path):
    log = generate_changelog(spark, 800, 100, seed=37)
    tbl = make_table(tmp_path, spark)
    wap_ingest(tbl, scan_slice(log, 0, 400), "b0", checks=checks())
    before = tbl.read().toPandas()
    # corrupt the second batch: n_tok off-by-one breaks the token invariant
    bad = scan_slice(log, 400, 800).withColumn(
        "n_tok", (F.col("n_tok") + F.lit(1)).cast("int")
    )
    res = wap_ingest(tbl, bad, "b1", checks=checks())
    assert res["skipped"] and res["reason"] == "audit-failed"
    assert not res["audit"]["results"]["token_invariant"]["ok"]
    oracle.assert_table_equal(tbl.read().toPandas(), before)
    assert tbl.staged() == {}  # aborted, no debris
    # the failed batch was never fenced: the CORRECTED batch re-submits
    # under the same batch_id and publishes
    good = scan_slice(log, 400, 800)
    res2 = wap_ingest(tbl, good, "b1", checks=checks())
    assert not res2["skipped"]
    oracle.assert_table_equal(tbl.read().toPandas(), oracle.replay(log.toPandas()))


def test_wap_ingest_resumes_after_crash_between_stage_and_audit(spark, tmp_path):
    log = generate_changelog(spark, 600, 80, seed=41)
    tbl = make_table(tmp_path, spark)
    # crash simulation: the stage landed but the driver died before audit
    tbl.merge(log, "b1", stage="wap-b1")
    res = wap_ingest(tbl, log, "b1", checks=checks())
    assert res.get("resumed") and not res["skipped"]
    oracle.assert_table_equal(tbl.read().toPandas(), oracle.replay(log.toPandas()))


def test_audit_null_fraction_and_row_count_bounds(spark, tmp_path):
    log = generate_changelog(spark, 500, 400, seed=43, delete_pct=0)
    tbl = make_table(tmp_path, spark)
    tbl.merge(log, "b0")
    # a "bad" second batch deletes most of the corpus — shrink guard fires.
    # Deterministic selection (sort, not limit-on-unordered): a merge input
    # is evaluated more than once (probe + write) and must be stable.
    from pyspark.sql import Window

    doomed = (
        tbl.read().select("doc_id")
        .withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
        .where(F.col("rn") <= 300)
        .drop("rn")
    )
    dels = (
        doomed.withColumn("op", F.lit("delete"))
        .withColumn(
            "seq",
            F.lit(500)
            + F.row_number().over(Window.orderBy("doc_id")).cast("long"),
        )
        .withColumn("tokens", F.lit(None).cast("array<int>"))
        .withColumn("n_tok", F.lit(None).cast("int"))
        .withColumn("source", F.lit(None).cast("string"))
    )
    res = wap_ingest(
        tbl, dels, "mass-delete",
        checks=[check_row_count(max_shrink_frac=0.5), check_null_fraction("source", 0.5)],
    )
    assert res["skipped"] and res["reason"] == "audit-failed"
    assert not res["audit"]["results"]["row_count"]["ok"]


def test_audit_lsn_regression_detected(spark, tmp_path):
    log = generate_changelog(spark, 1_000, 100, seed=47)
    tbl = make_table(tmp_path, spark)
    tbl.merge(scan_slice(log, 0, 800), "b0")
    # a replayed old slice in UNORDERED mode (no fence) regresses the lsn
    res = tbl.merge(
        scan_slice(log, 0, 200), "replay", stage="w1", fence=False, tombstones=True
    )
    assert res["staged"]
    report = audit_staged(tbl, "w1", [check_lsn_advance()])
    assert not report["ok"]
    tbl.abort_staged("w1")


# ---------------- named tags ----------------


def test_tag_pins_snapshot_against_expiration(spark, tmp_path):
    log = generate_changelog(spark, 1_500, 150, seed=53)
    tbl = make_table(tmp_path, spark)
    for i, lo in enumerate(range(0, 1_500, 300)):
        tbl.merge(scan_slice(log, lo, lo + 300), f"b{i}")
    tagged_sid = 2
    at_tag = tbl.read(snapshot_id=tagged_sid).toPandas()
    assert tbl.create_tag("q3-training-run", tagged_sid) == tagged_sid
    assert tbl.tags() == {"q3-training-run": tagged_sid}
    sw = tbl.expire_snapshots(keep_last=1)
    assert sw["clamped_by_tags"] and sw["expired_snapshots"] < 5
    oracle.assert_table_equal(tbl.read(tag="q3-training-run").toPandas(), at_tag)
    # tag read is stable as main advances
    tbl.merge(scan_slice(log, 0, 1_500).where("seq > 1200"), "bx", fence=False)
    oracle.assert_table_equal(tbl.read(tag="q3-training-run").toPandas(), at_tag)
    # dropping the tag releases the history
    tbl.delete_tag("q3-training-run")
    sw2 = tbl.expire_snapshots(keep_last=1)
    assert sw2["expired_snapshots"] > 0 and not sw2["clamped_by_tags"]
    with pytest.raises(KeyError):
        tbl.read(tag="q3-training-run")


def test_create_tag_idempotent_same_target_conflict_on_retarget(spark, tmp_path):
    log = generate_changelog(spark, 400, 50, seed=59)
    tbl = make_table(tmp_path, spark)
    tbl.merge(scan_slice(log, 0, 200), "b0")
    tbl.merge(scan_slice(log, 200, 400), "b1")
    tbl.create_tag("v1", 1)
    tbl.create_tag("v1", 1)  # idempotent re-create (driver retry)
    with pytest.raises(ValueError, match="already points"):
        tbl.create_tag("v1", 2)
    with pytest.raises(Exception):
        tbl.create_tag("missing", 99)
    tbl.delete_tag("v1")
    tbl.create_tag("v1", 2)
    assert tbl.tags()["v1"] == 2


def test_tags_and_consumers_share_registry_but_not_state(spark, tmp_path):
    log = generate_changelog(spark, 300, 40, seed=61)
    tbl = make_table(tmp_path, spark)
    tbl.merge(log, "b0")
    tbl.register_consumer("reader", 0)
    tbl.create_tag("pin", 1)
    assert tbl.consumers() == {"reader": 0}
    assert tbl.tags() == {"pin": 1}
    names = {
        n.split("-")[0] for n in os.listdir(os.path.join(tbl.path, "metadata"))
        if n.startswith(("tags-", "consumers-"))
    }
    assert names == {"tags", "consumers"}


def test_read_with_multiple_time_travel_selectors_rejected(spark, tmp_path):
    log = generate_changelog(spark, 200, 30, seed=67)
    tbl = make_table(tmp_path, spark)
    tbl.merge(log, "b0")
    tbl.create_tag("t", 1)
    with pytest.raises(ValueError, match="at most one"):
        tbl.read(snapshot_id=1, tag="t")


# ---------------- engine-level gated ingest (JobConfig.audit_checks) ----------------


from sparkcdc.audit import AuditFailedError  # noqa: E402
from sparkcdc.changelog import write_log_parquet  # noqa: E402
from sparkcdc.config import ConfigError, JobConfig  # noqa: E402
from sparkcdc.engine import CDCEngine  # noqa: E402

AUDIT_SPECS = [
    "token_invariant",
    "key_unique",
    "lsn_advance",
    "row_count:min_rows=1",
]


def _corrupt_slice(log, lo, hi):
    """n_tok off-by-one for upserts in (lo, hi] — breaks token_invariant."""
    bad = (F.col("seq") > lo) & (F.col("seq") <= hi) & (F.col("op") != "delete")
    return log.withColumn(
        "n_tok", F.when(bad, F.col("n_tok") + 1).otherwise(F.col("n_tok")).cast("int")
    )


def test_engine_gated_run_equals_plain_run(spark, tmp_path):
    log = generate_changelog(spark, 3_000, 300, seed=71, dup_pct=5, shuffled=True)
    log_path = str(tmp_path / "log")
    write_log_parquet(log, log_path)
    cfg = JobConfig(
        log_path=log_path, table_path=str(tmp_path / "tbl"),
        batch_size=1_000, n_buckets=8, audit_checks=AUDIT_SPECS,
    )
    eng = CDCEngine(spark, cfg)
    totals = eng.run()
    assert totals["batches"] == 3
    expected = oracle.replay(spark.read.parquet(log_path).toPandas())
    oracle.assert_table_equal(eng.read_table().toPandas(), expected)
    # every batch record carries its audit report; all passed
    audited = [r for r in eng.metrics.records if r.get("audit")]
    assert len(audited) == 3 and all(r["audit"]["ok"] for r in audited)
    assert eng.table.staged() == {}  # nothing parked after a clean run


def test_engine_aborts_on_corrupt_batch_then_recovers_on_fixed_feed(spark, tmp_path):
    log = generate_changelog(spark, 3_000, 300, seed=73)
    bad_path, good_path = str(tmp_path / "bad"), str(tmp_path / "good")
    write_log_parquet(_corrupt_slice(log, 1_000, 2_000), bad_path)
    write_log_parquet(log, good_path)
    tbl_path = str(tmp_path / "tbl")
    cfg = JobConfig(
        log_path=bad_path, table_path=tbl_path, batch_size=1_000,
        audit_checks=AUDIT_SPECS,
    )
    eng = CDCEngine(spark, cfg)
    with pytest.raises(AuditFailedError, match="token_invariant"):
        eng.run()
    # batch 1 landed, the corrupt batch 2 did not, nothing is parked
    assert eng.table.lineage["last_applied_lsn"] == 1_000
    assert eng.table.staged() == {}
    # upstream fixes the feed: a new run resumes from the checkpoint and
    # completes — the aborted batch was never fenced
    cfg2 = JobConfig(
        log_path=good_path, table_path=tbl_path, batch_size=1_000,
        audit_checks=AUDIT_SPECS,
    )
    eng2 = CDCEngine(spark, cfg2)
    assert eng2.plan_batches() == [(1_000, 2_000), (2_000, 3_000)]
    eng2.run()
    expected = oracle.replay(spark.read.parquet(good_path).toPandas())
    oracle.assert_table_equal(eng2.read_table().toPandas(), expected)


def test_engine_quarantine_drops_bad_batch_and_continues(spark, tmp_path):
    log = generate_changelog(spark, 3_000, 300, seed=79)
    log_path = str(tmp_path / "log")
    write_log_parquet(_corrupt_slice(log, 1_000, 2_000), log_path)
    cfg = JobConfig(
        log_path=log_path, table_path=str(tmp_path / "tbl"), batch_size=1_000,
        audit_checks=AUDIT_SPECS, audit_on_fail="quarantine",
    )
    eng = CDCEngine(spark, cfg)
    eng.run()
    quarantined = [r for r in eng.metrics.records if r["kind"] == "batch-quarantined"]
    assert len(quarantined) == 1
    assert quarantined[0]["lo"] == 1_000
    # the commit-record shape around the aborted audit's report
    assert set(quarantined[0]) == {
        "emitted_at", "kind", "lo", "hi", "range_width", "schema_changes",
        "quarantined_rows", "batch_id", "skipped", "reason", "audit",
        "duration_sec", "events_per_sec", "per_bucket_events_per_sec",
        "watermark_lag_sec", "range_per_sec",
    }
    assert not quarantined[0]["audit"]["results"]["token_invariant"]["ok"]
    # final state = replay WITHOUT the quarantined slice's events
    kept = spark.read.parquet(log_path).where(
        (F.col("seq") <= 1_000) | (F.col("seq") > 2_000)
    )
    oracle.assert_table_equal(eng.read_table().toPandas(), oracle.replay(kept.toPandas()))
    # the quarantined range is permanently fenced: a rerun is a no-op
    eng2 = CDCEngine(spark, cfg)
    assert eng2.plan_batches() == []


def test_audit_config_validation(tmp_path):
    base = dict(log_path="x", table_path="y")
    with pytest.raises(ConfigError, match="unknown audit check"):
        JobConfig(**base, audit_checks=["not_a_check"]).validate()
    with pytest.raises(ConfigError, match="row_count"):
        JobConfig(**base, audit_checks=["row_count:bogus_arg=1"]).validate()
    with pytest.raises(ConfigError, match="audit_on_fail"):
        JobConfig(**base, audit_on_fail="explode").validate()
    with pytest.raises(ConfigError, match="could not be empty"):
        JobConfig(**base, audit_checks=[]).validate()
    # dict-form specs validate too
    JobConfig(
        **base,
        audit_checks=[
            {"check": "null_fraction", "col": "source", "max_frac": 0.1},
            "token_invariant",
        ],
    ).validate()


def test_cli_gated_run_with_audit_flags(spark, tmp_path, capsys):
    """The spark-submit surface: --audit-check flags parse into
    JobConfig.audit_checks and drive a gated replay end-to-end."""
    import json

    from sparkcdc.__main__ import main

    rc = main([
        "--events", "2000", "--docs", "100", "--seed", "11",
        "--batch-size", "1000", "--n-buckets", "8",
        "--table", str(tmp_path / "cli-tbl"),
        "--audit-check", "token_invariant",
        "--audit-check", "key_unique",
        "--audit-check", "row_count:min_rows=1",
        "--audit-on-fail", "abort",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()
             if l.startswith("{")]
    totals = [l for l in lines if l.get("kind") == "totals"]
    assert totals and totals[0]["table_rows"] > 0
    # every applied batch went through the gate (engine used wap_ingest)
    assert all(l.get("kind") != "batch-quarantined" for l in lines)


def test_cli_bad_audit_spec_fails_with_readable_error(spark, tmp_path, capsys):
    import json

    from sparkcdc.__main__ import main

    rc = main([
        "--events", "100", "--docs", "10",
        "--table", str(tmp_path / "cli-bad"),
        "--audit-check", "not_a_real_check",
    ])
    assert rc == 1
    err = [json.loads(l) for l in capsys.readouterr().err.splitlines()
           if l.startswith("{")]
    assert err and "unknown audit check" in err[0]["message"]


def test_audit_token_repetition_gates_degenerate_sequences(spark, tmp_path):
    """token_repetition: a batch whose rows are stuck-generator sequences
    (one token repeated) fails the gate; a healthy batch passes. The check
    rides the same single-pass agg as the other data-level checks."""
    from sparkcdc.audit import check_token_repetition, wap_ingest

    tbl = make_table(tmp_path, spark, "rep")
    healthy = spark.createDataFrame(
        [(f"h{i}", list(range(20)), 20, "s", i + 1, "upsert") for i in range(30)],
        "doc_id: string, tokens: array<int>, n_tok: int, source: string,"
        " seq: long, op: string",
    )
    ok = wap_ingest(
        tbl, healthy, "good",
        checks=[check_token_repetition(max_dup_frac=0.8, max_bad_frac=0.1)],
    )
    assert not ok.get("skipped") and ok["audit"]["results"]["token_repetition"]["ok"]

    degenerate = spark.createDataFrame(
        [(f"d{i}", [7] * 32, 32, "s", 100 + i, "upsert") for i in range(30)],
        "doc_id: string, tokens: array<int>, n_tok: int, source: string,"
        " seq: long, op: string",
    )
    res = wap_ingest(
        tbl, degenerate, "stuck",
        checks=[check_token_repetition(max_dup_frac=0.8, max_bad_frac=0.1)],
    )
    assert res["skipped"] and res["reason"] == "audit-failed"
    assert not res["audit"]["results"]["token_repetition"]["ok"]
    # the failed batch never became visible
    assert tbl.read().where(F.col("doc_id").startswith("d")).count() == 0
    # config-spec surface parses the new check (string form, validated)
    from sparkcdc.audit import build_checks

    built = build_checks(["token_repetition:max_dup_frac=0.5,max_bad_frac=0.0"])
    assert built[0]["name"] == "token_repetition"
