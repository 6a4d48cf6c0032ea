"""Sequence packing: concat-and-split vs an independent Python reference,
token-stream conservation/order, chunk-size law, shard-mode equivalence,
and degenerate inputs (empty docs, seq_len=1, one giant doc)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcdc.packing import pack_documents, pack_sequences

SF001 = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF001}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )


def _py_pack(doc_tokens, L):
    """Reference: concat in order, split every L."""
    stream, bounds = [], []
    for _id, toks in sorted(doc_tokens):
        bounds.append((len(stream), len(stream) + len(toks), _id))
        stream.extend(toks)
    chunks = {}
    for k in range(0, (len(stream) + L - 1) // L):
        lo, hi = k * L, min((k + 1) * L, len(stream))
        n_docs = sum(1 for a, b, _ in bounds if a < hi and b > lo and a != b)
        chunks[k] = (stream[lo:hi], hi - lo, n_docs)
    return chunks


def test_pack_matches_python_reference(spark):
    rows = [
        (1, [1, 2, 3, 4, 5]),
        (2, [6, 7]),
        (3, []),               # empty: skipped
        (4, [8, 9, 10, 11, 12, 13, 14]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    got = {
        r.seq_id: (list(r.tokens), r.n_tok, r.n_docs)
        for r in pack_sequences(df, 4).collect()
    }
    expect = _py_pack([(i, t) for i, t in rows], 4)
    assert got == expect
    assert got[0][0] == [1, 2, 3, 4]  # doc 1 split across chunk 0/1
    assert got[1][0] == [5, 6, 7, 8]  # three docs meet in chunk 1


def test_token_stream_conserved_in_order(spark):
    docs = _docs(spark)
    L = 256
    p = pack_documents(docs, L)
    chunks = {r.seq_id: r.token_str for r in p.collect()}
    packed_stream = " ".join(chunks[k] for k in sorted(chunks))
    direct = " ".join(
        r.text.strip() and " ".join(r.text.split()) or ""
        for r in docs.orderBy("doc_id").collect()
    ).split()
    assert packed_stream.split() == direct
    # chunk-size law: every chunk is L except possibly the last
    sizes = {r.seq_id: r.n_tok for r in p.collect()}
    last = max(sizes)
    assert all(v == L for k, v in sizes.items() if k != last)
    assert 0 < sizes[last] <= L


def test_giant_doc_spans_many_chunks(spark):
    df = spark.createDataFrame(
        [(1, [0, 0]), (2, list(range(1000))), (3, [7])],
        "doc_id long, tokens array<int>",
    )
    got = {r.seq_id: (list(r.tokens), r.n_docs) for r in pack_sequences(df, 16).collect()}
    expect = _py_pack([(1, [0, 0]), (2, list(range(1000))), (3, [7])], 16)
    assert got == {k: (v[0], v[2]) for k, v in expect.items()}
    # interior chunks of the giant doc have exactly one contributor
    assert got[10][1] == 1


def test_seq_len_one_and_validation(spark):
    df = spark.createDataFrame([(1, [5, 6])], "doc_id long, tokens array<int>")
    got = {r.seq_id: list(r.tokens) for r in pack_sequences(df, 1).collect()}
    assert got == {0: [5], 1: [6]}
    with pytest.raises(ValueError):
        pack_sequences(df, 0)


def test_shard_mode_equals_per_shard_global(spark):
    """(shard, seq_id) output == running global packing independently per
    shard — the embarrassingly-parallel scale mode changes keys, not
    content."""
    docs = _docs(spark)
    sharded = {
        (r.source, r.seq_id): (r.token_str, r.n_tok, r.n_docs)
        for r in pack_documents(docs, 128, shard_col="source").collect()
    }
    expect = {}
    for src in [r.source for r in docs.select("source").distinct().collect()]:
        for r in pack_documents(docs.where(F.col("source") == src), 128).collect():
            expect[(src, r.seq_id)] = (r.token_str, r.n_tok, r.n_docs)
    assert sharded == expect and sharded


def test_all_empty_docs_yield_no_chunks(spark):
    df = spark.createDataFrame(
        [(1, []), (2, [])], "doc_id long, tokens array<int>"
    )
    assert pack_sequences(df, 8).count() == 0


# ---------------------------------------------------------------------------
# PackedTable: incrementally-maintained packed sequences from the source
# table's change feed. Invariant everywhere: after any refresh, chunks()
# == pack_documents over the CURRENT source corpus (per shard), at
# O(touched shards) repack cost — never a corpus repack.
# ---------------------------------------------------------------------------

import pyspark.sql.types as T
import pytest

from sparkcdc.icebox import IceboxTable
from sparkcdc.packing import PackedTable

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def _pk_docs(spark):
    return spark.read.parquet(f"{SF001}/documents.parquet").select(
        "doc_id", "text", "source"
    )


def _pk_log(df, op="upsert", seq_base=0):
    return df.select(
        "doc_id", "text", "source",
        (F.col("doc_id") + F.lit(seq_base)).cast("long").alias("seq"),
        F.lit(op).alias("op"),
    )


@pytest.fixture()
def pk_source(spark, tmp_path):
    return IceboxTable.create(
        spark, str(tmp_path / "pdocs"), DOC_SCHEMA, n_buckets=8
    )


def _expected_chunks(docs):
    return {
        (r.source, r.seq_id): (r.token_str, r.n_tok, r.n_docs)
        for r in pack_documents(docs, 64, shard_col="source").collect()
    }


def _got_chunks(pt):
    return {
        (r.shard, r.seq_id): (r.token_str, r.n_tok, r.n_docs)
        for r in pt.chunks()
        .select(
            "shard", "seq_id",
            F.array_join("tokens", " ").alias("token_str"), "n_tok", "n_docs",
        )
        .collect()
    }


def _mk_packed(spark, tmp_path, **kw):
    return PackedTable.create(
        spark, str(tmp_path / "packed"), seq_len=64,
        token_type=T.StringType(), tokens_col="text", shard_col="source",
        n_buckets=4, **kw,
    )


def test_packed_table_bootstrap_equals_full_pack(spark, tmp_path, pk_source):
    docs = _pk_docs(spark)
    pk_source.merge(_pk_log(docs), "b1")
    pt = _mk_packed(spark, tmp_path)
    m = pt.refresh_from(pk_source)
    assert m["applied_shards"] > 0
    assert _got_chunks(pt) == _expected_chunks(pk_source.read())
    # up to date: next refresh is a no-op
    assert pt.refresh_from(pk_source)["skipped"] is True


def test_packed_table_incremental_edit_move_delete_equals_recompute(
    spark, tmp_path, pk_source
):
    """Batch 2 edits one doc in place, MOVES one doc between shards (the
    pre-image names the old shard — both streams must repack), and
    deletes one; every downstream chunk boundary in the touched shards
    shifts, untouched shards don't repack."""
    docs = _pk_docs(spark)
    pk_source.merge(_pk_log(docs), "b1")
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)

    three = [r.doc_id for r in docs.orderBy("doc_id").limit(3).collect()]
    edit = docs.where(F.col("doc_id") == three[0]).select(
        "doc_id", F.concat(F.lit("edited "), F.col("text")).alias("text"), "source"
    )
    mover_row = docs.where(F.col("doc_id") == three[1]).first()
    other_shard = docs.where(F.col("source") != mover_row.source).first().source
    move = docs.where(F.col("doc_id") == three[1]).select(
        "doc_id", "text", F.lit(other_shard).alias("source")
    )
    dead = docs.where(F.col("doc_id") == three[2])
    batch = (
        _pk_log(edit.unionByName(move), seq_base=500_000)
        .unionByName(_pk_log(dead, op="delete", seq_base=500_000))
    )
    pk_source.merge(batch, "b2", tombstones=True)

    m = pt.refresh_from(pk_source)
    touched = {edit.first().source, mover_row.source, other_shard,
               dead.first().source}
    assert m["applied_shards"] == len(touched)
    assert _got_chunks(pt) == _expected_chunks(pk_source.read())


def test_packed_table_refresh_cost_is_o_touched_shards(
    spark, tmp_path, pk_source
):
    """Editing one doc repacks exactly one shard, and the shard-slice
    re-read file-skips: on a shard-clustered source the `in` filter
    opens strictly fewer files than the corpus scan."""
    docs = _pk_docs(spark)
    pk_source.merge(_pk_log(docs), "b1")
    pk_source.compact(cluster_by="source", max_file_rows=40)
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)

    one = docs.orderBy("doc_id").limit(1).select(
        "doc_id", F.concat(F.lit("edited "), F.col("text")).alias("text"), "source"
    )
    pk_source.merge(_pk_log(one, seq_base=500_000), "b2")
    shard = one.first().source
    sliced = pk_source.read(filters=[("source", "in", [shard])])
    assert 0 < len(sliced.inputFiles()) < len(pk_source.read().inputFiles())

    m = pt.refresh_from(pk_source)
    assert m["applied_shards"] == 1
    assert _got_chunks(pt) == _expected_chunks(pk_source.read())


def test_packed_table_shard_vanishes_chunks_deleted(spark, tmp_path, pk_source):
    """Deleting every doc of a shard anti-joins ALL its chunks away."""
    docs = _pk_docs(spark)
    pk_source.merge(_pk_log(docs), "b1")
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)
    victim = docs.first().source
    assert pt.chunks().where(F.col("shard") == victim).count() > 0

    pk_source.merge(
        _pk_log(docs.where(F.col("source") == victim), op="delete",
                seq_base=500_000),
        "b2", tombstones=True,
    )
    pt.refresh_from(pk_source)
    assert pt.chunks().where(F.col("shard") == victim).count() == 0
    assert _got_chunks(pt) == _expected_chunks(pk_source.read())


def test_packed_table_null_shard_docs_never_packed(spark, tmp_path, pk_source):
    docs = _pk_docs(spark).limit(20)
    nulled = docs.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 2 == 0, F.col("source")).alias("source"),
    )
    pk_source.merge(_pk_log(nulled), "b1")
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)
    got = _got_chunks(pt)
    assert got == _expected_chunks(pk_source.read().where(F.col("source").isNotNull()))
    assert None not in {s for s, _ in got}


def test_packed_table_crash_replay_exactly_once(spark, tmp_path, pk_source):
    """Crash between MERGE and advance_consumer: the replay re-runs the
    same window; its MERGE is fenced by batch id; the pin advances."""
    docs = _pk_docs(spark)
    pk_source.merge(_pk_log(docs.where(F.col("doc_id") % 2 == 0)), "b1")
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)
    pk_source.merge(
        _pk_log(docs.where(F.col("doc_id") % 2 == 1), seq_base=500_000), "b2"
    )

    real_advance = pk_source.advance_consumer

    def crashing_advance(name, sid):
        raise RuntimeError("injected crash before consumer advance")

    pk_source.advance_consumer = crashing_advance
    with pytest.raises(RuntimeError, match="injected crash"):
        pt.refresh_from(pk_source)
    pk_source.advance_consumer = real_advance

    m = pt.refresh_from(pk_source)  # replay of the SAME window
    assert pk_source.consumers()["packed"] == pk_source.snapshot["snapshot_id"]
    assert _got_chunks(pt) == _expected_chunks(pk_source.read())
    # and nothing doubled: pack_id unique
    n = pt.chunks().count()
    assert pt.chunks().select("pack_id").distinct().count() == n


def test_packed_table_load_roundtrip(spark, tmp_path, pk_source):
    docs = _pk_docs(spark).limit(30)
    pk_source.merge(_pk_log(docs), "b1")
    _mk_packed(spark, tmp_path).refresh_from(pk_source)
    pt2 = PackedTable.load(spark, str(tmp_path / "packed"))
    assert (pt2.seq_len, pt2.tokens_col, pt2.shard_col) == (64, "text", "source")
    assert pt2.refresh_from(pk_source)["skipped"] is True
    assert _got_chunks(pt2) == _expected_chunks(pk_source.read())


def test_epoch_order_is_deterministic_and_seed_dependent(spark):
    """epoch_order is a pure function of (key, seed): identical across
    partition layouts and reruns; a different seed gives a different
    (but equally deterministic) permutation; content is conserved."""
    from sparkcdc.packing import epoch_order

    rows = [(f"s{i % 4}:{i}", i) for i in range(500)]
    df = spark.createDataFrame(rows, "pack_id string, payload int")
    o1 = [r.pack_id for r in epoch_order(df, 7).collect()]
    o1b = [r.pack_id for r in epoch_order(df.repartition(13), 7).collect()]
    o1c = [r.pack_id for r in epoch_order(df.coalesce(1), 7).collect()]
    assert o1 == o1b == o1c
    o2 = [r.pack_id for r in epoch_order(df, 8).collect()]
    assert o2 != o1 and sorted(o2) == sorted(o1)
    # resume position is stable: the k-th element is the same on rerun
    assert epoch_order(df, 7).collect()[123].pack_id == o1[123]


def test_icebox_describe_reports_layout_and_lag(spark, tmp_path, pk_source):
    docs = _pk_docs(spark).limit(40)
    pk_source.merge(_pk_log(docs), "b1")
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)
    d = pk_source.describe()
    assert d["rows"] == 40 and d["files"] > 0 and d["n_buckets"] == 8
    assert d["consumer_lag"] == {"packed": 0}  # just synced
    pk_source.merge(_pk_log(docs.limit(5), seq_base=500_000), "b2")
    d2 = pk_source.describe()
    assert d2["consumer_lag"]["packed"] == 1  # one snapshot behind
    assert d2["snapshot_id"] == d["snapshot_id"] + 1
    pt.refresh_from(pk_source)
    assert pk_source.describe()["consumer_lag"]["packed"] == 0


def test_export_training_set_is_cluster_shape_invariant(spark, tmp_path):
    """mix + split + epoch order are all pure functions of (key, seed):
    two exports under different partitionings yield identical row sets
    with identical epoch positions; sort-by-epoch_pos reproduces
    epoch_order; the split never correlates with the sample draw."""
    from sparkcdc.mix import sample_by_rates, with_split
    from sparkcdc.packing import epoch_order, export_training_set

    rows = [(f"s{i % 3}:{i}", f"s{i % 3}", i) for i in range(400)]
    df = spark.createDataFrame(rows, "pack_id string, shard string, payload int")
    rates = {"s0": 1.0, "s1": 0.5}

    m1 = export_training_set(df, str(tmp_path / "e1"), seed=11,
                             rates=rates, val_frac=0.2)
    m2 = export_training_set(df.repartition(17), str(tmp_path / "e2"),
                             seed=11, rates=rates, val_frac=0.2)
    r1 = spark.read.parquet(str(tmp_path / "e1"))
    r2 = spark.read.parquet(str(tmp_path / "e2"))
    rows1 = sorted(tuple(r) for r in r1.collect())
    assert rows1 == sorted(tuple(r) for r in r2.collect()) and rows1
    assert m1["rows"] == m2["rows"] == len(rows1)

    # the exported set == sample_by_rates (s2 gets default_rate=0)
    expect_ids = sorted(
        r.pack_id for r in sample_by_rates(
            df, rates, source_col="shard", key_col="pack_id", seed="mix11"
        ).collect()
    )
    assert sorted(r.pack_id for r in r1.collect()) == expect_ids
    assert not [r for r in r1.collect() if r.shard == "s2"]

    # epoch_pos sort == epoch_order of the sampled slice
    by_pos = [r.pack_id for r in r1.orderBy("epoch_pos", "pack_id").collect()]
    sampled = sample_by_rates(df, rates, source_col="shard",
                              key_col="pack_id", seed="mix11")
    want = [r.pack_id for r in epoch_order(sampled, 11).collect()]
    assert by_pos == want

    # split column matches the independent with_split draw
    splits = {r.pack_id: r.split for r in r1.collect()}
    want_splits = {
        r.pack_id: r.split
        for r in with_split(sampled, val_frac=0.2, key_col="pack_id",
                            seed="split11").collect()
    }
    assert splits == {k: want_splits[k] for k in splits}
    assert set(splits.values()) == {"train", "val"}


def test_packed_table_widens_with_source_token_evolution(spark, tmp_path):
    """T6 mid-stream schema evolution reaching a derived table: when the
    source widens array<int> tokens to array<long>, the packed table
    widens FIRST — merging wide values into the frozen schema would
    silently wrap them (the probe that found this: 2^40 tokens came back
    as 0 and 1). A non-widening change raises instead of corrupting."""
    V1 = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("source", T.StringType()),
    ])
    V2 = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.LongType())),
        T.StructField("source", T.StringType()),
    ])
    src = IceboxTable.create(spark, str(tmp_path / "wdocs"), V1, n_buckets=2)
    rows = [(i, [i, i + 1, i + 2], f"s{i % 2}") for i in range(20)]
    src.merge(
        spark.createDataFrame(rows, V1).select(
            "*", F.col("doc_id").alias("seq"), F.lit("upsert").alias("op")
        ),
        "b1",
    )
    pt = PackedTable.create(
        spark, str(tmp_path / "wpk"), seq_len=4, token_type=T.IntegerType(),
        tokens_col="tokens", shard_col="source", n_buckets=2,
    )
    pt.refresh_from(src)
    src.update_schema(V2)
    src.merge(
        spark.createDataFrame([(100, [2**40, 2**40 + 1], "s0")], V2).select(
            "*", F.lit(10**9).cast("long").alias("seq"),
            F.lit("upsert").alias("op"),
        ),
        "b2",
    )
    pt.refresh_from(src)
    assert pt.table.schema["tokens"].dataType.elementType.simpleString() == "bigint"
    flat = {
        t for r in pt.chunks().where(F.col("shard") == "s0").collect()
        for t in r.tokens
    }
    assert 2**40 in flat and 2**40 + 1 in flat  # survived intact
    # full equivalence with a one-shot pack of the evolved corpus
    got = sorted(
        tuple(r) for r in pt.chunks().select("shard", "seq_id", "tokens").collect()
    )
    from sparkcdc.packing import pack_sequences
    want = sorted(
        tuple(r) for r in pack_sequences(
            src.read().select(
                F.col("source").alias("shard"), F.col("doc_id").alias("_pid"),
                F.col("tokens").alias("_ptoks"),
            ),
            4, tokens_col="_ptoks", id_col="_pid", shard_col="shard",
        ).select("shard", "seq_id", "tokens").collect()
    )
    assert got == want
    # a NON-widening evolution raises instead of corrupting: the source
    # table refuses it before any consumer could see it
    V3 = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("source", T.StringType()),
    ])
    with pytest.raises(ValueError, match="not a widening"):
        src.update_schema(V3)


def test_consumers_survive_source_column_add(spark, tmp_path, pk_source):
    """A column ADDED to the source mid-stream is invisible to both the
    packed table and the signature index (their projections don't touch
    it); maintenance keeps matching full recomputes."""
    docs = _pk_docs(spark)
    pk_source.merge(_pk_log(docs.where(F.col("doc_id") % 2 == 0)), "b1")
    pt = _mk_packed(spark, tmp_path)
    pt.refresh_from(pk_source)

    evolved = T.StructType(
        list(DOC_SCHEMA.fields) + [T.StructField("lang", T.StringType())]
    )
    pk_source.update_schema(evolved)
    b2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "source", F.lit("xx").alias("lang"),
        (F.col("doc_id") + F.lit(500_000)).cast("long").alias("seq"),
        F.lit("upsert").alias("op"),
    )
    pk_source.merge(b2, "b2")
    m = pt.refresh_from(pk_source)
    assert m["applied_shards"] > 0
    assert _got_chunks(pt) == _expected_chunks(
        pk_source.read().select("doc_id", "text", "source")
    )


def test_packed_widening_committed_through_other_handle_is_seen(spark, tmp_path):
    """The widening check runs against the source schema at the window's
    target snapshot: a widening plus a wide token committed through
    ANOTHER handle reaches the packed table intact even when the refresh
    is given a stale handle (a check against the stale schema would keep
    array<int> and wrap 2^40 to 0)."""
    V1 = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("source", T.StringType()),
    ])
    V2 = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.LongType())),
        T.StructField("source", T.StringType()),
    ])
    src = IceboxTable.create(spark, str(tmp_path / "odocs"), V1, n_buckets=2)
    src.merge(
        spark.createDataFrame(
            [(i, [i, i + 1, i + 2], f"s{i % 2}") for i in range(8)], V1
        ).select("*", F.col("doc_id").alias("seq"), F.lit("upsert").alias("op")),
        "b1",
    )
    pt = PackedTable.create(
        spark, str(tmp_path / "opk"), seq_len=4, token_type=T.IntegerType(),
        tokens_col="tokens", shard_col="source", n_buckets=2,
    )
    pt.refresh_from(src)
    # widening + wide token arrive through a DIFFERENT handle; `src` is stale
    other = IceboxTable.load(spark, str(tmp_path / "odocs"))
    other.update_schema(V2)
    other.merge(
        spark.createDataFrame([(100, [2**40], "s0")], V2).select(
            "*", F.lit(10**9).cast("long").alias("seq"), F.lit("upsert").alias("op"),
        ),
        "b2",
    )
    pt.refresh_from(src)
    assert pt.table.schema["tokens"].dataType.elementType.simpleString() == "bigint"
    flat = {t for r in pt.chunks().collect() for t in r.tokens}
    assert 2**40 in flat
