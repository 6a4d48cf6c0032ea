"""Self-tests of the benchmark's own code:

    python3 -m pytest perfbench -q -p no:cacheprovider

Seeded generation must be byte-for-byte reproducible, the output checks
must reject a table that disagrees with the oracle, the dedup reference
must agree with Spark where it re-implements Spark, and BENCHMARK.json
must list exactly the metrics the code prints.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, layers, reference, run, workloads  # noqa: E402


def _write_inputs(seed: int, out: str) -> None:
    gen.write_wal(gen.backfill_wal(seed, 5_000, 500, hot_pct=10, dup_pct=5),
                  os.path.join(out, "backfill"), files=2)
    gen.write_wal(gen.sharded_load(seed, 400, 20), os.path.join(out, "load"))
    for i, seg in enumerate(gen.sharded_segments(seed, 400, 400, 20, segments=3,
                                                 seg_events=20, shards_per_segment=3)):
        gen.write_wal(seg, os.path.join(out, "segments"), prefix=f"seg{i}")
    tbl, _ = gen.corpus(seed, 100, words_per_doc=30, zipf_a=1.2, zipf_pct=30,
                        boiler_pct=30, clusters=5, cluster_size=4, edits=3)
    os.makedirs(os.path.join(out, "corpus"))
    pq.write_table(tbl, os.path.join(out, "corpus", "part-00000.parquet"))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = cmp.common_files
    _, diff, errs = filecmp.cmpfiles(a, b, names, shallow=False)
    return (not (cmp.left_only or cmp.right_only or diff or errs)
            and all(_same_tree(os.path.join(a, d), os.path.join(b, d))
                    for d in cmp.common_dirs))


def test_same_seed_writes_identical_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_inputs(seed, str(tmp_path / name))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert tuple(workloads.WORKLOADS) == run.WORKLOAD_NAMES
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == layers.PER_LAYER


def test_reference_pairs_on_planted_clusters():
    tbl, groups = gen.corpus(3, 300, words_per_doc=40, zipf_a=1.2, zipf_pct=30,
                             boiler_pct=30, clusters=10, cluster_size=4, edits=2)
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    pairs = reference.ngram_pairs(ids, tbl.column("lang").to_pylist(), texts, 0.6)
    for g in groups:   # copy 1 is an exact duplicate of the base document
        assert (min(g[0], g[1]), max(g[0], g[1])) in pairs
    assert reference.lsh_verified(pairs, dict(zip(ids, texts))) <= pairs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from sparkcdc.session import get_spark

    s = get_spark(app="perfbench-test", master="local[2]", shuffle_partitions=2,
                  driver_memory="1g", extra_conf={
                      "spark.local.dir": str(tmp_path_factory.mktemp("spark-local")),
                      "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_xxh64_matches_spark(spark):
    from pyspark.sql import functions as F

    words = ["", "a", "w17", "x3_2005_17", "boilerplate " * 7, "héllo wörld"]
    got = spark.createDataFrame([(w,) for w in words], "t string") \
        .select(F.xxhash64("t")).collect()
    assert [r[0] for r in got] == [reference.xxh64(w.encode()) for w in words]


def test_corrupted_table_fails_the_check(spark, tmp_path):
    from sparkcdc.config import JobConfig
    from sparkcdc.engine import CDCEngine

    wal = gen.backfill_wal(3, 3_000, 300, hot_pct=10, dup_pct=5)
    gen.write_wal(wal, str(tmp_path / "wal"), files=2)
    eng = CDCEngine(spark, JobConfig(log_path=str(tmp_path / "wal"),
                                     table_path=str(tmp_path / "t"),
                                     batch_size=1_000, n_buckets=8))
    eng.run()
    expected = checks.replay_expected([wal])
    assert checks.table_error(eng.table, expected) == ""
    assert checks.row_count_error(eng.table, expected) == ""

    # one upsert that no WAL event produced: a row of the oracle's state
    # with its token array changed
    row = expected.iloc[0]
    bad = spark.createDataFrame(
        [(row["doc_id"], [1, 2, 3], 3, row["source"], 10**9, "update")],
        "doc_id string, tokens array<int>, n_tok int, source string, seq long, op string",
    )
    eng.table.merge(bad, "corrupt", fence=False)
    assert "differs" in checks.table_error(eng.table, expected)
