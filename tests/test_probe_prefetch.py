"""Prefetched merge-probe statistics (engine._prefetch_probe_stats +
IceboxTable.merge(probe_stats=...)): the one-pass batch-plan prefetch must
be observationally identical to the per-batch probe jobs it replaces, and
the merge must IGNORE prefetched stats whenever its validity guard says
they may be stale (changed bucket layout, advanced fence)."""

from __future__ import annotations

import os

import pytest

from sparkcdc.changelog import generate_changelog, write_log_parquet
from sparkcdc.config import JobConfig
from sparkcdc.engine import CDCEngine


def _write_wal(spark, path, **kw):
    write_log_parquet(
        generate_changelog(spark, 12_000, 600, **kw), path, partitions=4
    )


def _run(spark, wal, tbl, *, disable_prefetch=False, prefetched=None, **cfg_kw):
    """Replay ``wal`` into ``tbl``; ``prefetched`` (a list) collects what
    each run's prefetch returned."""
    cfg = JobConfig(
        log_path=wal, table_path=tbl, batch_size=3_500, n_buckets=8, **cfg_kw
    )
    eng = CDCEngine(spark, cfg)
    if disable_prefetch:
        eng._prefetch_probe_stats = lambda plan: {}
    elif prefetched is not None:
        real = eng._prefetch_probe_stats

        def recording(plan):
            prefetched.append(real(plan))
            return prefetched[-1]

        eng._prefetch_probe_stats = recording
    eng.run()
    return eng


def _batch_metrics(eng):
    keys = (
        "batch_id", "applied_events", "per_bucket_applied", "touched_buckets",
        "rows_written", "max_event_ts", "merge_plan",
    )
    return [
        {k: r.get(k) for k in keys}
        for r in eng.metrics.records
        if r.get("kind") == "batch"
    ]


def _rows(eng):
    return sorted(tuple(r) for r in eng.read_table().collect())


def test_prefetch_matches_per_batch_probe(spark, tmp_path):
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=7, hot_key_pct=10, dup_pct=5)
    prefetched: list = []
    a = _run(spark, wal, os.path.join(tmp_path, "ta"), prefetched=prefetched)
    b = _run(spark, wal, os.path.join(tmp_path, "tb"), disable_prefetch=True)
    # every planned range got a prefetched entry and the per-batch probe
    # was actually skipped in favor of it (probe time ≈ 0 means no job,
    # but assert on the mechanism, not the clock: stats were populated)
    [stats] = prefetched
    assert stats and all(e["rows"] for e in stats.values())
    assert _batch_metrics(a) == _batch_metrics(b)
    assert _rows(a) == _rows(b)


def test_merge_ignores_stale_probe_stats(spark, tmp_path):
    """Deliberately WRONG prefetched stats that fail each validity guard
    must not affect the merge (it re-probes itself)."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=9)
    ref = _run(spark, wal, os.path.join(tmp_path, "ref"), disable_prefetch=True)

    garbage_rows = [{"_bucket": 0, "n": 10**9, "mx": 10**9, "mts": None}]
    for tag, stale in (
        # wrong bucket count (a rebucket happened after the prefetch)
        ("nb", lambda lo: {"lo": lo, "nb": 999, "key": "doc_id", "rows": garbage_rows}),
        # wrong key column
        ("key", lambda lo: {"lo": lo, "nb": 8, "key": "other", "rows": garbage_rows}),
        # fence advanced past the slice (concurrent commit won the range)
        ("lo", lambda lo: {"lo": -10**9, "nb": 8, "key": "doc_id", "rows": garbage_rows}),
    ):
        cfg = JobConfig(
            log_path=wal, table_path=os.path.join(tmp_path, f"t_{tag}"),
            batch_size=3_500, n_buckets=8,
        )
        eng = CDCEngine(spark, cfg)
        real = eng._prefetch_probe_stats

        def poisoned(plan, _real=real, _stale=stale):
            return {rng: _stale(rng[0]) for rng in plan}

        eng._prefetch_probe_stats = poisoned
        eng.run()
        assert _rows(eng) == _rows(ref), f"stale-{tag} stats leaked into merge"
        assert _batch_metrics(eng) == _batch_metrics(ref)


def test_prefetch_survives_midrun_rebucket(spark, tmp_path):
    """A stats-driven rebucket between batches invalidates the remaining
    prefetched entries (their nb no longer matches); the merge falls back
    to probing and the replay converges to the probe-only state."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=11, hot_key_pct=10, dup_pct=5)
    a = _run(spark, wal, os.path.join(tmp_path, "ta"), target_bucket_bytes=2_000)
    b = _run(
        spark, wal, os.path.join(tmp_path, "tb"),
        disable_prefetch=True, target_bucket_bytes=2_000,
    )
    assert a.table.n_buckets > 8, "rebucket did not fire; tighten the target"
    assert a.table.n_buckets == b.table.n_buckets
    assert _rows(a) == _rows(b)


def test_prefetch_resume_from_checkpoint(spark, tmp_path):
    """A resumed run re-prefetches only the remaining ranges; the final
    state matches a single uninterrupted probe-only replay."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=13, dup_pct=10)
    tbl = os.path.join(tmp_path, "t")
    cfg = JobConfig(log_path=wal, table_path=tbl, batch_size=3_500, n_buckets=8)
    CDCEngine(spark, cfg).run(max_batches=2)
    resumed = CDCEngine(spark, cfg)
    resumed.run()
    ref = _run(spark, wal, os.path.join(tmp_path, "ref"), disable_prefetch=True)
    assert _rows(resumed) == _rows(ref)


def test_run_clears_probe_stats_on_exit(spark, tmp_path):
    """Prefetched stats never outlive the run that computed them: neither
    a partial run nor one that raises leaves entries a later direct
    apply_batch could consume after the WAL changed."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=15)
    cfg = JobConfig(log_path=wal, table_path=os.path.join(tmp_path, "t"),
                    batch_size=3_500, n_buckets=8)
    eng = CDCEngine(spark, cfg)
    eng.run(max_batches=2)
    assert eng._probe_stats == {}

    def crash(lo, hi):
        assert eng._probe_stats  # the remaining ranges were prefetched
        raise RuntimeError("crash mid-run")

    eng.apply_batch = crash
    with pytest.raises(RuntimeError, match="crash mid-run"):
        eng.run()
    assert eng._probe_stats == {}


def test_prefetch_drops_off_grid_batch_index(spark, tmp_path):
    """A seq the uniform grid maps outside the plan (a fractional seq just
    above the first range's floor truncates to batch index -1) drops the
    whole prefetch rather than wrapping to the last batch's stats."""
    log = spark.createDataFrame(
        [(0.5, "upsert", "a", 1), (1_500.0, "upsert", "b", 2)],
        "seq double, op string, doc_id string, v long",
    )
    cfg = JobConfig(log_path="unused", table_path=os.path.join(tmp_path, "t"),
                    batch_size=1_000, n_buckets=2)
    eng = CDCEngine(spark, cfg, log_df=log)
    assert eng._prefetch_probe_stats([(0, 1_000), (1_000, 2_000)]) == {}


def test_prefetch_emits_one_record_outside_totals(spark, tmp_path):
    """A prefetching run emits exactly one ``prefetch`` record with a
    pinned field set; it is not a commit, so ``metrics.totals()`` equals
    what the batch records alone give."""
    from sparkcdc.metrics import MetricsLog

    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=17)
    eng = CDCEngine(spark, JobConfig(
        log_path=wal, table_path=os.path.join(tmp_path, "t"),
        batch_size=3_500, n_buckets=8,
    ))
    totals = eng.run()
    recs = eng.metrics.records
    pre = [r for r in recs if r["kind"] == "prefetch"]
    assert len(pre) == 1
    assert set(pre[0]) == {"emitted_at", "kind", "batches", "rows", "duration_sec"}
    assert pre[0]["batches"] == totals["batches"] == 4
    assert 4 <= pre[0]["rows"] <= 4 * 8 and pre[0]["duration_sec"] > 0
    without = MetricsLog()
    without.records = [r for r in recs if r["kind"] != "prefetch"]
    assert without.totals() == totals
