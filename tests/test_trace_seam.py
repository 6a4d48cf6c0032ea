"""The benchmark's trace hooks (``perfbench/trace.py``) patch engine
attributes by name. These checks catch a rename or a bypassed seam in
the test suite instead of at benchmark time."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import Tracer, instrument, restore  # noqa: E402


def test_every_hook_patches_an_existing_attribute_and_restores_it():
    undo = instrument(Tracer(None, enabled=False), [])
    try:
        patched = {(owner, attr): orig for owner, attr, orig in undo}
        names = {attr for _, attr in patched}
        assert {"apply_batch", "merge", "wap_ingest"} <= names
        for (owner, attr), orig in patched.items():
            assert callable(orig)
            assert getattr(owner, attr) is not orig
    finally:
        restore(undo)
    for (owner, attr), orig in patched.items():
        assert getattr(owner, attr) is orig


def test_gated_run_records_wap_ingest_inside_apply_batch(spark, tmp_path):
    from sparkcdc.changelog import generate_changelog, write_log_parquet
    from sparkcdc.config import JobConfig
    from sparkcdc.engine import CDCEngine

    wal = str(tmp_path / "wal")
    write_log_parquet(generate_changelog(spark, 600, 60, seed=5), wal)
    eng = CDCEngine(spark, JobConfig(
        log_path=wal, table_path=str(tmp_path / "tbl"), n_buckets=2,
        batch_size=300, audit_checks=["key_unique"]))
    tracer = Tracer(spark, enabled=True)
    undo = instrument(tracer, [])
    try:
        eng.run()
    finally:
        restore(undo)
    spans = tracer.spans
    applies = {s["id"] for s in spans if s["name"] == "engine.apply_batch"}
    gated = [s for s in spans if s["name"] == "audit.wap_ingest"]
    assert len(applies) == 2 and len(gated) == 2
    assert all(s["parent"] in applies for s in gated)
