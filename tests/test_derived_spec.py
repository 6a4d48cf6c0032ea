"""The derived-table lifecycle (sparkcdc/derived.py): every derived type
creates and loads through ``IncrementalIndex``, and its spec sidecar
keeps the exact bytes earlier versions wrote, so tables created before
the shared lifecycle still load."""

import json

import pytest
from pyspark.sql import types as T

from sparkcdc.aggview import AggView
from sparkcdc.decontam import NgramIndex
from sparkcdc.packing import PackedTable
from sparkcdc.sigindex import SignatureIndex, SimhashIndex
from sparkcdc.vecindex import VectorIndex

SRC = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_tok", T.LongType()),
])

# (type, create kwargs, sidecar name, the sidecar bytes as previously written)
CASES = [
    (PackedTable, {"seq_len": 32}, "packidx.json",
     b'{"seq_len": 32, "id_col": "doc_id", "tokens_col": "tokens", '
     b'"shard_col": "source"}'),
    (AggView, {"group_cols": ["source"],
               "aggs": {"n": ("count", None), "tok": ("sum", "n_tok")},
               "source_schema": SRC}, "aggview.json",
     b'{"group_cols": ["source"], "aggs": {"n": ["count", null], '
     b'"tok": ["sum", "n_tok"]}}'),
    (SignatureIndex, {"k": 8, "bands": 4}, "sigindex.json", b'{"k": 8, "bands": 4}'),
    (SimhashIndex, {}, "simindex.json", b'{"family": "native"}'),
    (VectorIndex, {"dim": 4}, "vecindex.json",
     b'{"dim": 4, "n_planes": 8, "n_bands": 4, "seed": 42}'),
    (NgramIndex, {"n": 5}, "ngramindex.json", b'{"n": 5}'),
]


@pytest.mark.parametrize("cls,kwargs,sidecar,raw", CASES,
                         ids=[c[0].__name__ for c in CASES])
def test_sidecar_bytes_and_spec_round_trip(spark, tmp_path, cls, kwargs, sidecar, raw):
    path = str(tmp_path / "d")
    made = cls.create(spark, path, n_buckets=2, **kwargs)
    assert made.table._store.get(sidecar) == raw
    assert cls.SPEC_FILE == sidecar
    loaded = cls.load(spark, path)
    assert loaded.spec == made.spec == json.loads(raw)
    # the constructor saw the same fields: every spec attribute matches
    for k, v in loaded.spec.items():
        if hasattr(loaded, k):
            assert getattr(loaded, k) == (
                {o: tuple(s) for o, s in v.items()} if k == "aggs" else v
            )



def test_crash_before_sidecar_leaves_no_table(spark, tmp_path, monkeypatch):
    """The spec sidecar is written before the table becomes visible: a
    create that dies writing it leaves nothing ``table_exists`` reports
    (the engine would then fail to ``load`` it on every start), and the
    next create succeeds and loads."""
    from sparkcdc.commitstore import PosixCommitStore

    path = str(tmp_path / "pk")
    put = PosixCommitStore.put
    calls = []

    def dies_once(self, name, data):
        if name == PackedTable.SPEC_FILE and not calls:
            calls.append(name)
            raise OSError("injected crash")
        return put(self, name, data)

    monkeypatch.setattr(PosixCommitStore, "put", dies_once)
    with pytest.raises(OSError, match="injected"):
        PackedTable.create(spark, path, seq_len=8, n_buckets=2)
    assert not PackedTable.table_exists(path)
    PackedTable.create(spark, path, seq_len=8, n_buckets=2)
    assert PackedTable.table_exists(path)
    assert PackedTable.load(spark, path).seq_len == 8
