"""Initial-snapshot-then-tail bootstrap (engine.maybe_bootstrap): a full
dump at a watermark LSN becomes the first commit, the WAL is applied only
strictly above the watermark — correct against a full replay both with a
retention-truncated WAL (explicit watermark) and with a footer-derived
watermark, exactly-once across resume, and readable config errors."""

import pytest
from pyspark.sql import functions as F

from sparkcdc.changelog import generate_changelog, write_log_parquet
from sparkcdc.config import ConfigError, JobConfig
from sparkcdc.engine import CDCEngine

CUT = 2_000  # watermark: prefix seq <= CUT is folded into the dump


def _state(table):
    return sorted(
        (r.doc_id, tuple(r.tokens) if r.tokens is not None else None,
         r.n_tok, r.source)
        for r in table.read().select("doc_id", "tokens", "n_tok", "source").collect()
    )


@pytest.fixture(scope="module")
def boot_fixture(spark, tmp_path_factory):
    """Full WAL, truncated WAL, the prefix dump (with per-row seq), and
    the full-replay reference state."""
    root = tmp_path_factory.mktemp("boot")
    log = generate_changelog(spark, 4_000, 300, seed=11, dup_pct=10, delete_pct=15)
    full_wal = str(root / "full_wal")
    write_log_parquet(log, full_wal)
    trunc_wal = str(root / "trunc_wal")
    write_log_parquet(log.where(F.col("seq") > CUT), trunc_wal)

    # reference: full replay from empty
    ref_cfg = JobConfig(log_path=full_wal, table_path=str(root / "ref"),
                        n_buckets=8, batch_size=1_500)
    ref = CDCEngine(spark, ref_cfg)
    ref.run()

    # the dump: prefix replay, exported with per-row seq (footer watermark)
    pre_cfg = JobConfig(log_path=trunc_wal, table_path=str(root / "pre"),
                        n_buckets=8, batch_size=1_500)
    pre = CDCEngine(
        spark, pre_cfg,
        log_df=spark.read.parquet(full_wal).where(F.col("seq") <= CUT),
    )
    pre.run()
    dump = str(root / "dump")
    pre.table.read(with_seq=True).select(
        "doc_id", "tokens", "n_tok", "source",
        F.col("_seq").alias("seq"),
    ).write.parquet(dump)
    return {
        "root": root, "full_wal": full_wal, "trunc_wal": trunc_wal,
        "dump": dump, "ref_state": _state(ref.table),
    }


def test_truncated_wal_with_explicit_watermark_matches_full_replay(
    spark, boot_fixture
):
    """The reason bootstrap exists: the WAL below the watermark is GONE
    (retention), yet dump + tail must converge to the full-replay state."""
    fx = boot_fixture
    cfg = JobConfig(
        log_path=fx["trunc_wal"], table_path=str(fx["root"] / "tbl_trunc"),
        n_buckets=8, batch_size=1_500,
        bootstrap_path=fx["dump"], bootstrap_lsn=CUT,
    )
    eng = CDCEngine(spark, cfg)
    eng.run()
    assert _state(eng.table) == fx["ref_state"]
    boots = [r for r in eng.metrics.records if r.get("kind") == "bootstrap"]
    assert len(boots) == 1 and boots[0]["watermark_lsn"] == CUT
    assert set(boots[0]) == {
        "emitted_at", "kind", "watermark_lsn", "schema_changes",
        "quarantined_rows", "duration_sec",
        # the dump's copy-on-write merge metrics
        "batch_id", "skipped", "applied_events", "merge_plan",
        "per_bucket_applied", "touched_buckets", "files_written",
        "rows_written", "bytes_written", "max_event_ts", "probe_sec",
        "write_sec", "footer_sec", "total_bytes", "total_rows",
    }
    # no planned range touches the fenced region
    assert all(r["lo"] >= CUT for r in eng.metrics.records if r.get("kind") == "batch")


def test_footer_derived_watermark_with_full_wal(spark, boot_fixture):
    """No explicit LSN: the watermark comes from the dump's seq-column
    parquet footers (max surviving row seq). The overlap between that and
    the true cutoff is re-applied from the WAL — idempotent under LWW, so
    the final state still equals the full replay."""
    fx = boot_fixture
    cfg = JobConfig(
        log_path=fx["full_wal"], table_path=str(fx["root"] / "tbl_footer"),
        n_buckets=8, batch_size=1_500,
        bootstrap_path=fx["dump"],
    )
    eng = CDCEngine(spark, cfg)
    wm = eng._bootstrap_watermark()
    assert 0 < wm <= CUT  # max surviving row seq can trail the cutoff
    eng.run()
    assert _state(eng.table) == fx["ref_state"]


def test_bootstrap_is_exactly_once_across_resume(spark, boot_fixture):
    fx = boot_fixture
    cfg = JobConfig(
        log_path=fx["trunc_wal"], table_path=str(fx["root"] / "tbl_resume"),
        n_buckets=8, batch_size=1_500,
        bootstrap_path=fx["dump"], bootstrap_lsn=CUT,
    )
    eng = CDCEngine(spark, cfg)
    eng.run(max_batches=1)  # bootstrap + first tail batch, then "killed"
    eng2 = CDCEngine(spark, cfg)  # resume
    assert eng2.maybe_bootstrap() is None  # lineage fence covers the watermark
    eng2.run()
    assert _state(eng2.table) == fx["ref_state"]
    boots = [r for r in eng2.metrics.records if r.get("kind") == "bootstrap"]
    assert boots == []
    # a third run replans nothing at all
    assert CDCEngine(spark, cfg).plan_batches() == []


def test_empty_dump_still_fences_the_watermark(spark, boot_fixture):
    """An empty source at the watermark: the bootstrap commit carries no
    rows (and moves no lineage), but planning still starts above the
    watermark — the truncated-WAL tail alone is the whole state."""
    fx = boot_fixture
    empty_dump = str(fx["root"] / "empty_dump")
    spark.read.parquet(fx["dump"]).limit(0).write.parquet(empty_dump)
    cfg = JobConfig(
        log_path=fx["trunc_wal"], table_path=str(fx["root"] / "tbl_empty"),
        n_buckets=8, batch_size=1_500,
        bootstrap_path=empty_dump, bootstrap_lsn=CUT,
    )
    eng = CDCEngine(spark, cfg)
    eng.run()
    assert all(r["lo"] >= CUT for r in eng.metrics.records if r.get("kind") == "batch")
    # reference: plain replay of the truncated WAL from empty
    plain = CDCEngine(spark, JobConfig(
        log_path=fx["trunc_wal"], table_path=str(fx["root"] / "tbl_plain"),
        n_buckets=8, batch_size=1_500,
    ))
    plain.run()
    assert _state(eng.table) == _state(plain.table)


def test_missing_watermark_is_a_config_error(spark, boot_fixture):
    fx = boot_fixture
    bare_dump = str(fx["root"] / "bare_dump")
    spark.read.parquet(fx["dump"]).drop("seq").write.parquet(bare_dump)
    cfg = JobConfig(
        log_path=fx["trunc_wal"], table_path=str(fx["root"] / "tbl_bare"),
        n_buckets=8, batch_size=1_500, bootstrap_path=bare_dump,
    )
    with pytest.raises(ConfigError, match="bootstrap_lsn is required"):
        CDCEngine(spark, cfg).run()
    with pytest.raises(ConfigError, match="bootstrap_lsn requires"):
        JobConfig(log_path=fx["trunc_wal"], table_path="x",
                  bootstrap_lsn=5).validate()
    with pytest.raises(ConfigError, match=">= 0"):
        JobConfig(log_path=fx["trunc_wal"], table_path="x",
                  bootstrap_path=fx["dump"], bootstrap_lsn=-1).validate()
