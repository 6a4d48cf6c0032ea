"""One commit path for every front end: the WAL loop (``run``), the
streaming sink (``run_streaming``) and the bootstrap load all commit
through ``CDCEngine._commit``, so the same config lands the same table —
declared columns, the DLQ split and the write-audit-publish gate apply to
all three."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkcdc.changelog import generate_changelog, write_log_parquet
from sparkcdc.config import JobConfig
from sparkcdc.engine import CDCEngine, read_dlq
from sparkcdc.streaming import run_streaming

DECLARED = [
    {"name": "doc_id", "type": "string"},
    {"name": "n_tok", "type": "long"},
    {"name": "source", "type": "string"},
]


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    """A 1.5k-event parquet WAL in several segments (several epochs)."""
    path = str(tmp_path_factory.mktemp("commit_path") / "wal")
    write_log_parquet(generate_changelog(spark, 1_500, 200, seed=91), path,
                      partitions=4)
    return path


def _rows(table):
    return sorted(tuple(r) for r in table.read().collect())


def test_stream_with_declared_columns_lands_what_run_lands(spark, wal, tmp_path):
    run_cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "run"),
                        n_buckets=4, batch_size=500, columns=DECLARED)
    ran = CDCEngine(spark, run_cfg)
    ran.run()
    stream_cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "stream"),
                           n_buckets=4, columns=DECLARED)
    run_streaming(spark, stream_cfg, checkpoint_dir=str(tmp_path / "ck"))
    streamed = CDCEngine(spark, stream_cfg).table
    assert ran.table.schema.simpleString() == \
        "struct<doc_id:string,n_tok:bigint,source:string>"
    assert streamed.schema == ran.table.schema
    assert _rows(streamed) == _rows(ran.table)


def test_stream_audit_quarantine_commits_nothing(spark, wal, tmp_path):
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"), n_buckets=4,
                    audit_checks=["row_count:min_rows=100000000"],
                    audit_on_fail="quarantine")
    totals = run_streaming(spark, cfg, checkpoint_dir=str(tmp_path / "ck"))
    assert CDCEngine(spark, cfg).table.read().count() == 0
    assert totals["batches"] == 0 and totals["applied_events"] == 0
    with open(os.path.join(cfg.table_path, "metadata", "metrics.jsonl")) as fh:
        records = [json.loads(line) for line in fh]
    recs = [r for r in records if r["kind"] == "batch-quarantined"]
    assert recs and all("epoch" in r and r["reason"] == "audit-failed" for r in recs)
    assert not any(r["kind"] == "stream-batch" for r in records)


@pytest.fixture(scope="module")
def dump(spark, tmp_path_factory):
    """A bootstrap dump with the log's full payload (``tokens`` included)
    and one null-keyed row."""
    path = str(tmp_path_factory.mktemp("commit_path_dump") / "dump")
    rows = [(f"DOC-{i}", [i, i + 1], 2, "src0") for i in range(20)]
    rows.append((None, [7], 1, "src1"))
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).coalesce(1).write.parquet(path)
    return path


def test_bootstrap_keeps_declared_schema(spark, wal, dump, tmp_path):
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"), n_buckets=4,
                    batch_size=500, columns=DECLARED,
                    bootstrap_path=dump, bootstrap_lsn=1_000)
    eng = CDCEngine(spark, cfg)
    assert eng.maybe_bootstrap()["kind"] == "bootstrap"
    assert eng.table.schema.names == ["doc_id", "n_tok", "source"]
    eng.run()
    assert eng.table.schema.names == ["doc_id", "n_tok", "source"]


def test_bootstrap_parks_null_key_rows_in_the_dlq(spark, wal, dump, tmp_path):
    dlq = str(tmp_path / "dlq")
    cfg = JobConfig(log_path=wal, table_path=str(tmp_path / "tbl"), n_buckets=4,
                    batch_size=500, dlq_path=dlq,
                    bootstrap_path=dump, bootstrap_lsn=1_000)
    eng = CDCEngine(spark, cfg)
    rec = eng.maybe_bootstrap()
    assert rec["quarantined_rows"] == 1 and rec["applied_events"] == 20
    parked = read_dlq(spark, dlq).collect()
    assert [(r.batch, r.dlq_reason, r.doc_id) for r in parked] == [
        ("bootstrap-1000", "null-key", None)
    ]
    assert eng.table.read().where(F.col("doc_id").isNull()).count() == 0
