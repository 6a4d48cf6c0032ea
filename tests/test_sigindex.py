"""SignatureIndex: incremental MinHash/LSH index maintenance from the doc
table's change feed. Invariant under test everywhere: batch-incremental
maintenance == full recompute over the final corpus (signatures, pairs,
and probes), at O(changed docs) cost per refresh."""

from __future__ import annotations

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from sparkcdc.dedupe_docs import minhash_lsh_pairs, minhash_signatures
from sparkcdc.icebox import IceboxTable
from sparkcdc.sigindex import SignatureIndex

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

SF001 = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF001}/documents.parquet")
        .select("doc_id", "text", "lang")
    )


def _as_log(df, op="upsert", seq_base=0):
    """Turn a docs frame into merge input (seq = doc_id + base, op col)."""
    return df.select(
        "doc_id", "text", "lang",
        (F.col("doc_id") + F.lit(seq_base)).cast("long").alias("seq"),
        F.lit(op).alias("op"),
    )


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


@pytest.fixture()
def doc_table(spark, tmp_path):
    return IceboxTable.create(
        spark, str(tmp_path / "docs"), DOC_SCHEMA, n_buckets=8
    )


def test_incremental_equals_full_recompute_with_updates_and_deletes(
    spark, tmp_path, doc_table
):
    docs = _docs(spark)
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)

    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(half_a), "b1")
    m1 = idx.refresh_from(doc_table)
    assert m1["from_snapshot"] == 0 and not m1.get("skipped")

    # second batch: inserts (half_b), UPDATES (rewrite 10 of half_a's
    # texts at a later seq), and DELETES (drop 10 other half_a docs)
    updates = (
        half_a.orderBy("doc_id").limit(10)
        .select("doc_id", F.concat(F.lit("rewritten totally new words "),
                                   F.col("text")).alias("text"), "lang")
    )
    deletes = half_a.orderBy(F.desc("doc_id")).limit(10).select("doc_id", "text", "lang")
    doc_table.merge(
        _as_log(half_b, seq_base=100_000)
        .unionByName(_as_log(updates, seq_base=200_000))
        .unionByName(_as_log(deletes, op="delete", seq_base=300_000)),
        "b2",
    )
    m2 = idx.refresh_from(doc_table)
    assert not m2.get("skipped")

    corpus = doc_table.read().select("doc_id", "text")
    expect_sig = _sorted_rows(minhash_signatures(corpus))
    got_sig = _sorted_rows(idx.signatures().select(*minhash_signatures(corpus).columns))
    assert got_sig == expect_sig
    expect_pairs = _sorted_rows(minhash_lsh_pairs(corpus, max_band=0))
    got_pairs = _sorted_rows(idx.pairs(max_band=0))
    assert got_pairs == expect_pairs


def test_refresh_cost_is_o_changed_buckets_not_corpus(spark, tmp_path, doc_table):
    """The point of the index: refresh #2 must read only the CHANGED
    buckets of the doc table and merge only the changed docs — not
    re-shingle the corpus."""
    docs = _docs(spark)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=8, key_type=T.LongType()
    )
    doc_table.merge(_as_log(docs), "b1")
    idx.refresh_from(doc_table)

    # touch ONE doc (one bucket of 8)
    one = docs.orderBy("doc_id").limit(1).select(
        "doc_id", F.concat(F.lit("edited "), F.col("text")).alias("text"), "lang"
    )
    doc_table.merge(_as_log(one, seq_base=500_000), "b2")

    from_sid = doc_table.consumers()["sigindex"]
    ch = doc_table.read_changes(from_sid, doc_table.snapshot["snapshot_id"])
    # change-feed scan is bucket-pruned: only the touched bucket's files
    feed_files = ch.inputFiles()
    all_files = doc_table.read().inputFiles()
    assert 0 < len(feed_files) < len(all_files)

    m2 = idx.refresh_from(doc_table)
    assert m2["applied_events"] == 1  # one signature recomputed, not 500
    assert len(m2["touched_buckets"]) == 1  # one index bucket rewritten

    corpus = doc_table.read().select("doc_id", "text")
    assert _sorted_rows(idx.pairs(max_band=0)) == _sorted_rows(
        minhash_lsh_pairs(corpus, max_band=0)
    )


def test_refresh_replay_after_crash_is_exactly_once(spark, tmp_path, doc_table):
    """Crash between MERGE and advance_consumer: the re-run re-reads the
    same change window; its MERGE replays with the same batch id and is
    skipped by the idempotency fence; the pin then advances."""
    docs = _docs(spark)
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(half_a), "b1")
    idx.refresh_from(doc_table)
    doc_table.merge(_as_log(docs.where(F.col("doc_id") % 2 == 1),
                            seq_base=100_000), "b2")

    real_advance = doc_table.advance_consumer
    calls = {"n": 0}

    def crashing_advance(name, sid):
        calls["n"] += 1
        raise RuntimeError("injected crash before consumer advance")

    doc_table.advance_consumer = crashing_advance
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.refresh_from(doc_table)
    doc_table.advance_consumer = real_advance
    assert calls["n"] == 1

    m = idx.refresh_from(doc_table)  # replay of the SAME window
    assert m["skipped"] is True or m["applied_events"] == 0
    assert doc_table.consumers()["sigindex"] == doc_table.snapshot["snapshot_id"]
    corpus = doc_table.read().select("doc_id", "text")
    assert _sorted_rows(idx.signatures().select("doc_id", "mh_0")) == _sorted_rows(
        minhash_signatures(corpus).select("doc_id", "mh_0")
    )


def test_probe_matches_cross_pairs_of_full_recompute(spark, tmp_path, doc_table):
    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(corpus), "b1")
    idx.refresh_from(doc_table)

    got = {
        (min(r.new_id, r.indexed_id), max(r.new_id, r.indexed_id))
        for r in idx.probe(batch, max_band=0).collect()
    }
    ids_a = {r.doc_id for r in corpus.select("doc_id").collect()}
    ids_b = {r.doc_id for r in batch.select("doc_id").collect()}
    full = minhash_lsh_pairs(docs, max_band=0).collect()
    expect = {
        (r.doc1, r.doc2)
        for r in full
        if (r.doc1 in ids_a) != (r.doc2 in ids_a)  # exactly one side indexed
        and (r.doc1 in ids_a or r.doc1 in ids_b)
        and (r.doc2 in ids_a or r.doc2 in ids_b)
    }
    assert got == expect


def test_probe_plan_broadcasts_batch_and_skips_doc_table(spark, tmp_path, doc_table):
    """Scale shape of the probe: batch side broadcast (no index shuffle
    for the join) and NO scan of the document table at all."""
    docs = _docs(spark)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(docs), "b1")
    idx.refresh_from(doc_table)
    probe = idx.probe(docs.limit(20))
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan
    assert doc_table.path not in plan  # only the compact index is scanned


def test_unshingleable_and_deleted_docs_leave_the_index(spark, tmp_path, doc_table):
    rows = [
        (1, "alpha beta gamma delta epsilon", "en"),
        (2, "one two three four five six", "en"),
        (3, "tiny", "en"),  # < 3 words: never indexable
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=2, key_type=T.LongType()
    )
    doc_table.merge(_as_log(df), "b1")
    idx.refresh_from(doc_table)
    assert {r.doc_id for r in idx.signatures().select("doc_id").collect()} == {1, 2}

    # doc 1 edited down to an unshingleable stub, doc 2 deleted outright
    edit = spark.createDataFrame([(1, "now short", "en")], DOC_SCHEMA)
    dele = spark.createDataFrame([(2, None, None)], DOC_SCHEMA)
    doc_table.merge(
        _as_log(edit, seq_base=1_000).unionByName(
            _as_log(dele, op="delete", seq_base=1_000)
        ),
        "b2",
    )
    idx.refresh_from(doc_table)
    assert idx.signatures().count() == 0
    assert idx.pairs(max_band=0).count() == 0


def test_load_roundtrip_preserves_hash_family(spark, tmp_path, doc_table):
    docs = _docs(spark)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), k=8, bands=4, n_buckets=4,
        key_type=T.LongType(),
    )
    doc_table.merge(_as_log(docs), "b1")
    idx.refresh_from(doc_table)
    re = SignatureIndex.load(spark, str(tmp_path / "sig"))
    assert (re.k, re.bands) == (8, 4)
    assert _sorted_rows(re.pairs(max_band=0)) == _sorted_rows(idx.pairs(max_band=0))
    with pytest.raises(ValueError, match="divisible"):
        SignatureIndex.create(spark, str(tmp_path / "bad"), k=8, bands=3)


def test_steady_state_refreshes_land_as_deltas_and_compact(spark, tmp_path, doc_table):
    """Small refreshes must not COW-rewrite index buckets (cost-based
    merge → MOR deltas, O(batch) write); past compact_delta_files the
    refresh folds them back. Pairs stay recompute-identical throughout."""
    docs = _docs(spark)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(docs), "b0")
    idx.refresh_from(doc_table)  # bootstrap: COW

    idx.compact_delta_files = 3
    saw_compact = False
    for i in range(5):
        one = docs.where(F.col("doc_id") == i).select(
            "doc_id",
            F.concat(F.lit(f"edit{i} fresh words here "), F.col("text")).alias("text"),
            "lang",
        )
        doc_table.merge(_as_log(one, seq_base=(i + 1) * 10_000), f"e{i}")
        m = idx.refresh_from(doc_table)
        kinds = {e.get("kind") for e in idx.table.snapshot["manifest"]}
        if "compacted" in m:
            saw_compact = True
            assert "delta" not in kinds  # folded back to bases
        elif not saw_compact:
            assert "delta" in kinds  # steady-state refresh appended a delta
    assert saw_compact, "compaction threshold never tripped"
    corpus = doc_table.read().select("doc_id", "text")
    assert _sorted_rows(idx.pairs(max_band=0)) == _sorted_rows(
        minhash_lsh_pairs(corpus, max_band=0)
    )


def test_dedup_gated_ingest_drops_corpus_near_dups(spark, tmp_path, doc_table):
    """The composed ingest path: near-dups of ALREADY-INGESTED docs are
    dropped pre-commit (probe → point-read verify), fresh docs and
    deletes pass through, and the index ends exactly in sync."""
    from sparkcdc.sigindex import dedup_gated_ingest

    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") < 400)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(corpus), "b0")
    idx.refresh_from(doc_table)

    # batch: 5 near-dups of indexed docs (one word appended), 3 fresh
    # docs (unique text), and 1 delete of an existing doc
    near = corpus.orderBy("doc_id").limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"), "lang",
    )
    fresh = spark.createDataFrame(
        [(20_000 + i,
          f"genuinely novel document number {i} with wholly distinct phrasing "
          f"nothing shares these tokens {i * 7} {i * 13} {i * 19}", "en")
         for i in range(3)],
        "doc_id: long, text: string, lang: string",
    )
    dele = corpus.where(F.col("doc_id") == 0).select("doc_id", "text", "lang")
    batch = (
        _as_log(near, seq_base=100_000)
        .unionByName(_as_log(fresh, seq_base=100_000))
        .unionByName(_as_log(dele, op="delete", seq_base=100_000))
    )
    res = dedup_gated_ingest(doc_table, idx, batch, "gated-1", threshold=0.6)
    assert res["dropped_near_dups"] == 5
    ids = {r.doc_id for r in doc_table.read().select("doc_id").collect()}
    assert not any(i >= 10_000 and i < 20_000 for i in ids)  # near-dups out
    assert {20_000, 20_001, 20_002} <= ids                   # fresh in
    assert 0 not in ids                                      # delete applied
    corpus_now = doc_table.read().select("doc_id", "text")
    assert _sorted_rows(
        idx.signatures().select("doc_id", "mh_0")
    ) == _sorted_rows(minhash_signatures(corpus_now).select("doc_id", "mh_0"))


def test_dedup_gated_ingest_judges_each_keys_winning_version(
    spark, tmp_path, doc_table
):
    """A key upserted more than once in one batch is judged by the version
    the merge commits, not by the union of its versions: a near-copy that
    wins is dropped, a near-copy that a unique version supersedes lands,
    and a key whose winner is a delete is deleted, not gated."""
    from sparkcdc.sigindex import dedup_gated_ingest

    corpus = _docs(spark).where(F.col("doc_id") < 300)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(corpus), "b0")
    idx.refresh_from(doc_table)
    texts = {r.doc_id: r.text for r in corpus.where("doc_id < 3").collect()}
    unique = " ".join(f"novel{i}word" for i in range(80))
    rows = [
        (30_000, unique, 1, "upsert"),                      # unique, then
        (30_000, texts[1] + " tail", 2, "upsert"),          # near-dup wins
        (30_001, texts[2] + " tail", 1, "upsert"),          # near-dup, then
        (30_001, unique + " extra", 2, "upsert"),           # unique wins
        (0, texts[2] + " tail", 1, "upsert"),               # near-dup, then
        (0, texts[0], 2, "delete"),                         # delete wins
    ]
    batch = spark.createDataFrame(
        [(k, t, "en", seq + 100_000, op) for k, t, seq, op in rows],
        "doc_id: long, text: string, lang: string, seq: long, op: string",
    )
    res = dedup_gated_ingest(doc_table, idx, batch, "gated-lww", threshold=0.6)
    assert res["dropped_near_dups"] == 1
    ids = {r.doc_id for r in doc_table.read().select("doc_id").collect()}
    assert 30_000 not in ids
    assert 30_001 in ids
    assert 0 not in ids


def test_racing_maintainers_refresh_exactly_once(spark, tmp_path, doc_table):
    """Two index handles (two drivers) refresh the SAME change window
    concurrently: both derive the same (from,to) batch id, so exactly one
    MERGE lands and the other is fenced as a duplicate — the index never
    double-applies and matches the recompute."""
    from concurrent.futures import ThreadPoolExecutor

    docs = _docs(spark)
    idx_path = str(tmp_path / "sig")
    idx = SignatureIndex.create(spark, idx_path, n_buckets=4, key_type=T.LongType())
    doc_table.merge(_as_log(docs.where(F.col("doc_id") < 250)), "b1")
    idx.refresh_from(doc_table)
    doc_table.merge(_as_log(docs.where(F.col("doc_id") >= 250),
                            seq_base=100_000), "b2")

    h1 = SignatureIndex.load(spark, idx_path)
    h2 = SignatureIndex.load(spark, idx_path)
    t1 = IceboxTable.load(spark, doc_table.path)
    t2 = IceboxTable.load(spark, doc_table.path)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(h1.refresh_from, t1)
        f2 = ex.submit(h2.refresh_from, t2)
        r1, r2 = f1.result(), f2.result()

    applied = [r for r in (r1, r2)
               if not r.get("skipped") and r.get("applied_events", 0) > 0]
    assert len(applied) <= 1  # at most one write landed; the other fenced
    # regardless of interleaving, one more refresh converges the pin
    idx.refresh_from(doc_table)
    corpus = doc_table.read().select("doc_id", "text")
    assert _sorted_rows(idx.signatures().select("doc_id", "mh_0")) == _sorted_rows(
        minhash_signatures(corpus).select("doc_id", "mh_0")
    )


def test_dedup_gated_ingest_edge_batches(spark, tmp_path, doc_table):
    """Edges of the gated ingest: an all-duplicate batch commits nothing
    but deletes; an empty batch is a clean no-op; the index stays in
    sync through both."""
    from sparkcdc.sigindex import dedup_gated_ingest

    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") < 300)
    idx = SignatureIndex.create(
        spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(corpus), "b0")
    idx.refresh_from(doc_table)
    before = doc_table.read().count()

    # all-dup batch: exact copies of indexed docs under new ids
    dup = corpus.orderBy("doc_id").limit(8).select(
        (F.col("doc_id") + 50_000).alias("doc_id"), "text", "lang"
    )
    res = dedup_gated_ingest(doc_table, idx, _as_log(dup, seq_base=10_000),
                             "gated-dups", threshold=0.6)
    assert res["dropped_near_dups"] == 8
    assert doc_table.read().count() == before  # nothing new landed

    # empty batch
    empty = spark.createDataFrame([], _as_log(dup).schema)
    res2 = dedup_gated_ingest(doc_table, idx, empty, "gated-empty")
    assert res2["dropped_near_dups"] == 0
    corpus_now = doc_table.read().select("doc_id", "text")
    assert _sorted_rows(idx.signatures().select("doc_id", "mh_0")) == _sorted_rows(
        minhash_signatures(corpus_now).select("doc_id", "mh_0")
    )


def test_gated_ingest_distributed_fallback_matches_point_reads(
    spark, tmp_path, doc_table
):
    """point_read_threshold=0 forces the distributed semi-join path for
    candidate texts; the gate decision must be identical to the keyed
    point-read path."""
    from sparkcdc.sigindex import dedup_gated_ingest

    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") < 300)
    near = corpus.orderBy("doc_id").limit(6).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"), "lang",
    )
    fresh = spark.createDataFrame(
        [(20_000, "wholly original content no shared shingles here at all", "en")],
        "doc_id: long, text: string, lang: string",
    )
    batch = _as_log(near, seq_base=100_000).unionByName(_as_log(fresh, seq_base=100_000))

    results = {}
    for mode, thr in (("point", 10_000), ("scan", 0)):
        dt = IceboxTable.create(
            spark, str(tmp_path / f"docs-{mode}"), DOC_SCHEMA, n_buckets=8
        )
        idx = SignatureIndex.create(
            spark, str(tmp_path / f"sig-{mode}"), n_buckets=4, key_type=T.LongType()
        )
        dt.merge(_as_log(corpus), "b0")
        idx.refresh_from(dt)
        res = dedup_gated_ingest(dt, idx, batch, "g1", threshold=0.6,
                                 point_read_threshold=thr)
        results[mode] = (
            res["dropped_near_dups"],
            sorted(r.doc_id for r in dt.read().select("doc_id").collect()),
        )
    assert results["point"] == results["scan"]
    assert results["point"][0] == 6


# ---------------------------------------------------------------- simhash


def test_simhash_index_incremental_equals_recompute(spark, tmp_path, doc_table):
    """Batch-incremental SimhashIndex maintenance converges to exactly
    simhash64_native over the final corpus, through inserts, updates,
    deletes, and a doc edited to null text (removed as unrepresentable)."""
    from sparkcdc.dedupe_docs import simhash64_native
    from sparkcdc.sigindex import SimhashIndex

    docs = _docs(spark)
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    idx = SimhashIndex.create(
        spark, str(tmp_path / "sim"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(half_a), "b1")
    m1 = idx.refresh_from(doc_table)
    assert not m1.get("skipped")

    updates = (
        half_a.orderBy("doc_id").limit(8)
        .select("doc_id", F.concat(F.lit("fresh unseen vocabulary "),
                                   F.col("text")).alias("text"), "lang")
    )
    nulled = spark.createDataFrame(
        [(int(half_a.orderBy(F.desc("doc_id")).first().doc_id), None, "en")], DOC_SCHEMA
    )
    deletes = half_a.orderBy("doc_id").limit(20).orderBy(F.desc("doc_id")).limit(4)
    doc_table.merge(
        _as_log(half_b, seq_base=100_000)
        .unionByName(_as_log(updates, seq_base=200_000))
        .unionByName(_as_log(nulled, seq_base=250_000))
        .unionByName(_as_log(deletes, op="delete", seq_base=300_000)),
        "b2",
    )
    m2 = idx.refresh_from(doc_table)
    assert not m2.get("skipped")
    got = _sorted_rows(idx.sims())
    # null-text docs have no sim and are REMOVED from the index (the
    # recompute path surfaces them as sim=None instead)
    expect = _sorted_rows(
        simhash64_native(doc_table.read()).where(F.col("sim").isNotNull())
    )
    assert got == expect
    # idempotent: nothing new to fold
    assert idx.refresh_from(doc_table).get("skipped")


def test_simhash_index_pairs_and_probe_match_recompute(spark, tmp_path, doc_table):
    """pairs() == simhash_near_pairs over the live corpus (zero re-hash);
    probe(batch) == exactly the cross pairs of the full recompute."""
    from sparkcdc.dedupe_docs import simhash_near_pairs
    from sparkcdc.sigindex import SimhashIndex

    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    # batch = light edits of corpus docs → guaranteed near-dups
    batch = (
        corpus.where(F.col("doc_id") % 3 == 1)
        .select((F.col("doc_id") + 10_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tailword")).alias("text"), "lang")
    )
    idx = SimhashIndex.create(
        spark, str(tmp_path / "sim"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(corpus), "b1")
    idx.refresh_from(doc_table)

    got_pairs = {(r.doc1, r.doc2, r.hamming)
                 for r in idx.pairs(max_hamming=10, max_chunk=0).collect()}
    want_pairs = {(r.doc1, r.doc2, r.hamming)
                  for r in simhash_near_pairs(
                      doc_table.read(), max_hamming=10, max_chunk=0).collect()}
    assert got_pairs == want_pairs

    got = {(r.new_id, r.indexed_id, r.hamming)
           for r in idx.probe(batch, max_hamming=10, max_chunk=0).collect()}
    assert got, "edited copies must probe as near-dups"
    ids_c = {r.doc_id for r in corpus.select("doc_id").collect()}
    full = simhash_near_pairs(
        doc_table.read().select("doc_id", "text").unionByName(
            batch.select("doc_id", "text")),
        max_hamming=10, max_chunk=0,
    ).collect()
    expect = {
        (r.doc2, r.doc1, r.hamming) if r.doc1 in ids_c else (r.doc1, r.doc2, r.hamming)
        for r in full
        if (r.doc1 in ids_c) != (r.doc2 in ids_c)
    }
    assert got == expect


def test_simhash_index_probe_plan_scale_shape(spark, tmp_path, doc_table):
    """Probe broadcasts the batch and never scans the doc table."""
    from sparkcdc.sigindex import SimhashIndex

    docs = _docs(spark)
    idx = SimhashIndex.create(
        spark, str(tmp_path / "sim"), n_buckets=4, key_type=T.LongType()
    )
    doc_table.merge(_as_log(docs), "b1")
    idx.refresh_from(doc_table)
    probe = idx.probe(docs.limit(20))
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan
    assert doc_table.path not in plan
    assert "ArrowEvalPython" not in plan  # maintenance AND probe stay native


def test_sigindex_survives_source_column_add(spark, tmp_path):
    """Mid-stream source schema evolution (added column) flows through
    read_changes' forward-normalization; the index keeps matching the
    recompute over the evolved corpus."""
    docs = _docs(spark)
    src = IceboxTable.create(
        spark, str(tmp_path / "edocs"), DOC_SCHEMA, n_buckets=4
    )
    idx = SignatureIndex.create(
        spark, str(tmp_path / "esig"), n_buckets=4, key_type=T.LongType()
    )
    src.merge(_as_log(docs.where(F.col("doc_id") % 2 == 0)), "b1")
    idx.refresh_from(src)

    evolved = T.StructType(
        list(DOC_SCHEMA.fields) + [T.StructField("extra", T.LongType())]
    )
    src.update_schema(evolved)
    b2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", F.lit(7).cast("long").alias("extra"),
        (F.col("doc_id") + F.lit(500_000)).cast("long").alias("seq"),
        F.lit("upsert").alias("op"),
    )
    src.merge(b2, "b2")
    m = idx.refresh_from(src)
    assert m["applied_events"] > 0
    corpus = src.read().select("doc_id", "text")
    assert _sorted_rows(idx.signatures().select("doc_id", "mh_0")) == _sorted_rows(
        minhash_signatures(corpus).select("doc_id", "mh_0")
    )


def test_consume_changes_public_consumer_api(spark, tmp_path, doc_table):
    """consume_changes gives arbitrary downstream sinks the built-in
    consumers' discipline: bootstrap window = whole corpus, steady-state
    window = only the changes, crash-before-advance replays the SAME
    window, up-to-date call is a skipped no-op, and the registry pin
    tracks the sink."""
    from sparkcdc.derived import consume_changes

    docs = _docs(spark)
    doc_table.merge(_as_log(docs.where(F.col("doc_id") % 2 == 0)), "b1")
    seen: list[tuple] = []

    def sink(ch, from_sid, to_sid):
        rows = ch.where(F.col("_change") == "upsert").count()
        seen.append((from_sid, to_sid, rows))
        return {"rows": rows}

    m1 = consume_changes(doc_table, "myfeed", sink)
    assert m1["rows"] == 250 and seen[-1][2] == 250
    assert doc_table.consumers()["myfeed"] == doc_table.snapshot["snapshot_id"]
    # up to date → skip, sink not called
    assert consume_changes(doc_table, "myfeed", sink)["skipped"] is True
    assert len(seen) == 1

    doc_table.merge(_as_log(docs.where(F.col("doc_id") % 2 == 1),
                            seq_base=100_000), "b2")

    # crash INSIDE the sink: pin does not advance, window replays verbatim
    def crashing(ch, from_sid, to_sid):
        raise RuntimeError("sink crash")

    with pytest.raises(RuntimeError, match="sink crash"):
        consume_changes(doc_table, "myfeed", crashing)
    m2 = consume_changes(doc_table, "myfeed", sink)
    assert m2["rows"] == 250
    assert m2["from_snapshot"] == m1["to_snapshot"]
    # cdf mode surfaces pre/post images to the sink
    doc_table.merge(_as_log(docs.limit(1), seq_base=200_000), "b3")
    kinds: set = set()
    consume_changes(
        doc_table, "myfeed",
        lambda ch, a, b: kinds.update(
            r[0] for r in ch.select("_change_type").distinct().collect()
        ),
        mode="cdf",
    )
    assert kinds == {"update_preimage", "update_postimage"}


def test_consume_changes_sink_window_outlives_shared_scope(spark, doc_table):
    """Inside a ``shared_windows`` scope the built-in folds share one
    materialized window, but a ``consume_changes`` sink is handed the lazy
    window: a plan the sink keeps stays computable after the scope has
    freed its blocks."""
    from sparkcdc.derived import consume_changes, shared_windows

    doc_table.merge(_as_log(_docs(spark).where(F.col("doc_id") % 2 == 0)), "b1")
    kept = []
    with shared_windows():
        consume_changes(doc_table, "keeper", lambda ch, a, b: kept.append(ch))
    assert kept[0].where(F.col("_change") == "upsert").count() == 250
