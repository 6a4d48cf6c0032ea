"""Incremental aggregate view (sparkcdc/aggview.py): IVM over the change
feed — additive retract-and-apply for count/sum/avg, monotone-update +
tie-triggered re-aggregate for min/max, group lifecycle (appear/vanish),
exactly-once crash replay, and the no-source-scan property of additive
refreshes."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkcdc.aggview import AggSpecError, AggView
from sparkcdc.icebox import IceboxTable

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_tok", T.LongType()),
    T.StructField("score", T.DoubleType()),
])

ALL_AGGS = {
    "n_docs": ("count", None),
    "sum_tok": ("sum", "n_tok"),
    "min_tok": ("min", "n_tok"),
    "max_tok": ("max", "n_tok"),
    "avg_score": ("avg", "score"),
    "n_scored": ("count", "score"),
}


def _log(spark, rows, seq0):
    return spark.createDataFrame(
        [(op, i, s, n, sc, seq0 + j) for j, (op, i, s, n, sc) in enumerate(rows)],
        "op string, doc_id long, source string, n_tok long, score double, seq long",
    )


def _src(spark, tmp_path, name="src"):
    return IceboxTable.create(
        spark, str(tmp_path / name), SCHEMA, key="doc_id", n_buckets=4
    )


def _seed(spark, tbl, n=30):
    rows = [
        ("upsert", i, f"src{i % 3}", 10 + i, float(i) / 2 if i % 4 else None)
        for i in range(n)
    ]
    tbl.merge(_log(spark, rows, 1), "seed")


def _expected(tbl):
    return tbl.read().groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("sum_tok"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        F.avg("score").alias("avg_score"),
        F.count("score").alias("n_scored"),
    )


def _rows(df):
    return sorted([r.asDict() for r in df.collect()], key=lambda d: str(d))


def _assert_matches(view, tbl):
    assert _rows(view.read()) == _rows(_expected(tbl))


def test_bootstrap_equals_direct_group_by(spark, tmp_path):
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl)
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    m = view.refresh_from(tbl)
    assert m["to_snapshot"] == tbl.snapshot["snapshot_id"]
    _assert_matches(view, tbl)
    # up to date: second refresh is a skip
    assert view.refresh_from(tbl)["skipped"] is True


def test_incremental_updates_moves_deletes_match_recompute(spark, tmp_path):
    """The full IVM matrix in one feed: delete-of-the-max (tie-triggered
    re-aggregate), group move via pre/post pair, in-place update, brand-new
    group — maintained view == direct aggregate after every refresh."""
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl)
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    batch2 = [
        ("delete", 27, None, None, None),    # src0's stored max_tok (37)
        ("upsert", 1, "src2", 99, 5.0),      # moves src1 -> src2
        ("upsert", 100, "srcNEW", 7, None),  # new group
        ("upsert", 5, "src2", 15, 2.5),      # in-place update
    ]
    tbl.merge(_log(spark, batch2, 1000), "b2")
    view.refresh_from(tbl)
    _assert_matches(view, tbl)
    # delete src0's stored MIN (doc 0, n_tok=10) — the min-side tie path
    tbl.merge(_log(spark, [("delete", 0, None, None, None)], 2000), "b3")
    view.refresh_from(tbl)
    _assert_matches(view, tbl)


def test_duplicate_extremum_survives_retraction(spark, tmp_path):
    """Two rows tie for the max; deleting one must re-aggregate (not
    monotone-update) and land on the surviving duplicate."""
    tbl = _src(spark, tmp_path)
    rows = [
        ("upsert", 1, "a", 50, None),
        ("upsert", 2, "a", 50, None),
        ("upsert", 3, "a", 10, None),
    ]
    tbl.merge(_log(spark, rows, 1), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"],
        aggs={"max_tok": ("max", "n_tok"), "min_tok": ("min", "n_tok")},
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    tbl.merge(_log(spark, [("delete", 1, None, None, None)], 100), "b2")
    view.refresh_from(tbl)
    [r] = view.read().collect()
    assert (r.max_tok, r.min_tok) == (50, 10)


def test_group_vanish_deletes_view_row(spark, tmp_path):
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl, n=6)
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    # delete every src1 doc (1, 4)
    tbl.merge(
        _log(spark, [("delete", 1, None, None, None),
                     ("delete", 4, None, None, None)], 100), "b2",
    )
    view.refresh_from(tbl)
    _assert_matches(view, tbl)
    assert view.read().where(F.col("source") == "src1").count() == 0


def test_all_null_measure_group(spark, tmp_path):
    """A group whose measure is entirely null: sum/min/max/avg null, count
    of the column 0 — and stays correct as null rows are retracted."""
    tbl = _src(spark, tmp_path)
    rows = [("upsert", 1, "a", None, None), ("upsert", 2, "a", None, None)]
    tbl.merge(_log(spark, rows, 1), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    _assert_matches(view, tbl)
    tbl.merge(_log(spark, [("delete", 1, None, None, None)], 100), "b2")
    view.refresh_from(tbl)
    _assert_matches(view, tbl)


def test_null_group_key_is_a_group(spark, tmp_path):
    tbl = _src(spark, tmp_path)
    rows = [("upsert", 1, None, 5, None), ("upsert", 2, "a", 7, None),
            ("upsert", 3, None, 9, None)]
    tbl.merge(_log(spark, rows, 1), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    _assert_matches(view, tbl)
    null_row = view.read().where(F.col("source").isNull()).collect()
    assert len(null_row) == 1 and null_row[0].n_docs == 2


def test_refresh_replay_after_crash_is_exactly_once(spark, tmp_path):
    """Crash between MERGE and advance_consumer: the replayed window's
    MERGE is fenced on the (from, to) batch id, so the delta is not applied
    twice even though the replay recomputes it against post-merge state."""
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl)
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    tbl.merge(_log(spark, [("upsert", 200, "src0", 1000, 1.0)], 5000), "b2")

    real_advance = tbl.advance_consumer

    def crashing_advance(name, sid):
        raise RuntimeError("injected crash before consumer advance")

    tbl.advance_consumer = crashing_advance
    with pytest.raises(RuntimeError, match="injected crash"):
        view.refresh_from(tbl)
    tbl.advance_consumer = real_advance

    m = view.refresh_from(tbl)  # replay of the SAME window
    assert m.get("skipped") is True or m.get("applied_events", 0) == 0
    _assert_matches(view, tbl)


_BOOT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_tok", T.LongType()),
    T.StructField("text", T.StringType()),
])


def _boot_log(spark, rows, seq0):
    return spark.createDataFrame(
        [(op, i, f"s{i % 2}", 7, f"doc {i} alpha beta gamma delta eps", seq0 + j)
         for j, (op, i) in enumerate(rows)],
        "op string, doc_id long, source string, n_tok long, text string, seq long",
    )


@pytest.mark.parametrize("kind", ["aggview", "sigindex"])
def test_bootstrap_onto_expired_source_crash_is_exactly_once(spark, tmp_path, kind):
    """Bootstrap onto a source whose snapshot 0 has expired, crash after
    the merge but before the consumer is registered, and commit once more
    before the retry: the retry re-reads the provisionally pinned
    bootstrap window (a fenced no-op) and the next refresh folds the new
    commit — nothing is folded twice and no deleted row survives."""
    from sparkcdc.dedupe_docs import minhash_signatures
    from sparkcdc.sigindex import SignatureIndex

    src = IceboxTable.create(
        spark, str(tmp_path / "src"), _BOOT_SCHEMA, key="doc_id", n_buckets=4
    )
    for b in range(3):
        src.merge(_boot_log(spark, [("upsert", i) for i in range(6 * b, 6 * b + 6)],
                            100 * b), f"b{b}")
    src.expire_snapshots(keep_last=1)
    assert 0 not in src._history_ids()
    if kind == "aggview":
        consumer = AggView.create(
            spark, str(tmp_path / "v"), group_cols=["source"],
            aggs={"n": ("count", None), "tok": ("sum", "n_tok")},
            source_schema=_BOOT_SCHEMA,
        )

        def state():
            return _rows(consumer.read()), _rows(src.read().groupBy("source").agg(
                F.count("*").alias("n"), F.sum("n_tok").alias("tok")))
    else:
        consumer = SignatureIndex.create(
            spark, str(tmp_path / "sig"), n_buckets=4, key_type=T.LongType()
        )

        def state():
            return _rows(consumer.signatures()), _rows(
                minhash_signatures(src.read().select("doc_id", "text")))

    real_register = src.register_consumer
    crashes = []

    def crash_once(name, snapshot_id=None):
        if name == kind and not crashes:
            crashes.append(name)
            raise RuntimeError("injected crash before consumer registration")
        return real_register(name, snapshot_id)

    src.register_consumer = crash_once
    with pytest.raises(RuntimeError, match="injected crash"):
        consumer.refresh_from(src)
    src.register_consumer = real_register
    src.merge(_boot_log(spark, [("upsert", 100), ("delete", 0)], 1_000), "b3")

    consumer.refresh_from(src)  # retry: the pinned bootstrap window, fenced
    consumer.refresh_from(src)  # the commit made after the crash
    got, want = state()
    assert got == want
    assert src.consumers() == {kind: src.snapshot["snapshot_id"]}


def test_additive_refresh_never_scans_source_table(spark, tmp_path):
    """count/sum/avg maintenance is pure window arithmetic: the source's
    read() is never invoked (the change feed is the only source access),
    and min/max views skip the source too when no retraction ties the
    stored extremum."""
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl)
    additive = AggView.create(
        spark, str(tmp_path / "v1"), group_cols=["source"],
        aggs={"n_docs": ("count", None), "sum_tok": ("sum", "n_tok"),
              "avg_score": ("avg", "score")},
        source_schema=SCHEMA,
    )
    extremal = AggView.create(
        spark, str(tmp_path / "v2"), group_cols=["source"],
        aggs={"max_tok": ("max", "n_tok")},
        source_schema=SCHEMA,
    )
    additive.refresh_from(tbl, consumer="av-add")
    extremal.refresh_from(tbl, consumer="av-ext")
    # inserts only: no retraction can tie an extremum
    tbl.merge(_log(spark, [("upsert", 300, "src1", 3, 3.0)], 7000), "b2")

    real_read = tbl.read

    def forbidden_read(*a, **k):
        raise AssertionError("source table read() during an additive refresh")

    tbl.read = forbidden_read
    try:
        additive.refresh_from(tbl, consumer="av-add")
        extremal.refresh_from(tbl, consumer="av-ext")
    finally:
        tbl.read = real_read
    _assert_matches_subset(additive, extremal, tbl)


def _assert_matches_subset(additive, extremal, tbl):
    want = {
        r["source"]: r
        for r in _rows(tbl.read().groupBy("source").agg(
            F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tok"),
            F.avg("score").alias("avg_score"), F.max("n_tok").alias("max_tok"),
        ))
    }
    for r in _rows(additive.read()):
        w = want[r["source"]]
        assert (r["n_docs"], r["sum_tok"], r["avg_score"]) == (
            w["n_docs"], w["sum_tok"], w["avg_score"])
    for r in _rows(extremal.read()):
        assert r["max_tok"] == want[r["source"]]["max_tok"]


def test_load_roundtrip_preserves_spec(spark, tmp_path):
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl, n=9)
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"], aggs=ALL_AGGS,
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    reloaded = AggView.load(spark, str(tmp_path / "v"))
    assert reloaded.group_cols == ["source"]
    assert reloaded.aggs == view.aggs
    _assert_matches(reloaded, tbl)
    # the reloaded handle can continue maintenance
    tbl.merge(_log(spark, [("upsert", 50, "src0", 42, None)], 500), "b2")
    reloaded.refresh_from(tbl)
    _assert_matches(reloaded, tbl)


def test_multi_column_groups_with_separator_hostile_values(spark, tmp_path):
    """Composite group identity is JSON-digest based: values containing
    any would-be separator cannot collide across columns."""
    tbl = _src(spark, tmp_path)
    rows = [
        ("upsert", 1, "a\x1fb", 5, None),
        ("upsert", 2, "a", 7, None),
    ]
    tbl.merge(_log(spark, rows, 1), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source", "score"],
        aggs={"n_docs": ("count", None), "sum_tok": ("sum", "n_tok")},
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    got = _rows(view.read())
    want = _rows(tbl.read().groupBy("source", "score").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tok")))
    assert got == want and len(got) == 2


def test_engine_maintains_aggview_continuously(spark, tmp_path):
    """cfg.aggview_path wires continuous rollup maintenance into the replay
    loop: after every applied batch (including kill/resume) the view equals
    a direct GROUP BY of the table's current state."""
    from sparkcdc.changelog import generate_changelog, write_log_parquet
    from sparkcdc.config import ConfigError, JobConfig
    from sparkcdc.engine import CDCEngine

    log = generate_changelog(spark, 3_000, 200, seed=7, dup_pct=10)
    wal_path = str(tmp_path / "wal")
    write_log_parquet(log, wal_path)
    cfg = JobConfig(
        log_path=wal_path, table_path=str(tmp_path / "tbl"), n_buckets=8,
        batch_size=1_000,
        aggview_path=str(tmp_path / "view"),
        aggview_group_cols=["source"],
        aggview_aggs={
            "n_docs": ["count", None],
            "sum_tok": ["sum", "n_tok"],
            "max_tok": ["max", "n_tok"],
        },
    )
    eng = CDCEngine(spark, cfg)
    eng.run(max_batches=1)  # simulated kill after batch 1

    def assert_synced(e):
        got = _rows(e.aggview.read())
        want = _rows(e.table.read().groupBy("source").agg(
            F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tok"),
            F.max("n_tok").alias("max_tok")))
        assert got == want

    assert_synced(eng)
    eng2 = CDCEngine(spark, cfg)  # resume from checkpoint; view reloaded
    totals = eng2.run()
    assert totals["applied_events"] > 0
    assert_synced(eng2)
    refreshes = [
        r for r in eng2.metrics.records if r.get("kind") == "aggview-refresh"
    ]
    assert len(refreshes) >= 2  # one per applied batch
    assert all(
        set(r) == {"emitted_at", "kind", "from_snapshot", "to_snapshot",
                   "applied_events", "duration_sec"}
        for r in refreshes
    )
    # validation: a bad spec is a readable config error at engine init
    bad = JobConfig(
        log_path=wal_path, table_path=str(tmp_path / "tbl2"),
        aggview_path=str(tmp_path / "view2"),
        aggview_group_cols=["nope"],
        aggview_aggs={"n": ["count", None]},
    )
    with pytest.raises(ConfigError, match="aggview spec invalid"):
        CDCEngine(spark, bad)
    with pytest.raises(ConfigError, match="aggview_group_cols"):
        JobConfig(
            log_path=wal_path, table_path=str(tmp_path / "t3"),
            aggview_path=str(tmp_path / "v3"), aggview_aggs={"n": ["count", None]},
        ).validate()
    with pytest.raises(ConfigError, match="kind in count/sum"):
        JobConfig(
            log_path=wal_path, table_path=str(tmp_path / "t4"),
            aggview_path=str(tmp_path / "v4"), aggview_group_cols=["source"],
            aggview_aggs={"n": ["median", "n_tok"]},
        ).validate()


def test_hostile_output_names_do_not_collide_with_internals(spark, tmp_path):
    """Regression: an output literally named 'n' used to collide with the
    hidden live-count's '_cur_n' alias (found by driving the API, not the
    suite). Internal aliases are now double-underscore-separated and
    leading-underscore outputs are rejected."""
    tbl = _src(spark, tmp_path)
    _seed(spark, tbl, n=12)
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"],
        aggs={"n": ("count", None), "live": ("sum", "n_tok"),
              "sumcnt_live": ("count", "n_tok"), "avgsum_n": ("avg", "n_tok")},
        source_schema=SCHEMA,
    )
    view.refresh_from(tbl)
    tbl.merge(_log(spark, [("delete", 0, None, None, None),
                           ("upsert", 50, "srcX", 3, None)], 100), "b2")
    view.refresh_from(tbl)
    got = _rows(view.read())
    want = _rows(tbl.read().groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("live"),
        F.count("n_tok").alias("sumcnt_live"), F.avg("n_tok").alias("avgsum_n")))
    assert got == want
    with pytest.raises(AggSpecError, match="reserved"):
        AggView.create(
            spark, str(tmp_path / "v2"), group_cols=["source"],
            aggs={"_x": ("count", None)}, source_schema=SCHEMA,
        )


def test_source_widening_evolves_view_schema(spark, tmp_path):
    """Source widens a measure column (int -> long) mid-stream: the view's
    stored min/max column must widen WITH it — the frozen schema used to
    wrap 2^33 to 0 through the merge's normalization cast (found by API
    drive). Non-widening changes raise a readable error instead of
    corrupting stored state; added source columns are ignored."""
    src = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_tok", T.IntegerType()),
    ])
    from sparkcdc.icebox import IceboxTable as _IT

    t = _IT.create(spark, str(tmp_path / "t"), src, key="doc_id", n_buckets=2)
    t.merge(spark.createDataFrame(
        [("upsert", i, f"s{i % 2}", 10 + i, i + 1) for i in range(6)],
        "op string, doc_id long, source string, n_tok int, seq long"), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"],
        aggs={"n": ("count", None), "tok": ("sum", "n_tok"),
              "mx": ("max", "n_tok")},
        source_schema=src,
    )
    view.refresh_from(t)
    t.update_schema(T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_tok", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]))
    t.merge(spark.createDataFrame(
        [("upsert", 50, "s0", 2 ** 33, "en", 100)],
        "op string, doc_id long, source string, n_tok long, lang string, seq long"),
        "b2")
    view.refresh_from(t)
    got = sorted(tuple(r) for r in view.read().collect())
    want = sorted(tuple(r) for r in t.read().groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("tok"),
        F.max("n_tok").alias("mx")).collect())
    assert got == want
    assert any(r[3] == 2 ** 33 for r in got)  # the wide max survived intact
    # non-widening change (long -> string) is rejected, not absorbed: the
    # source table refuses it before the view could see it
    with pytest.raises(ValueError, match="not a widening"):
        t.update_schema(T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_tok", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]))


def test_group_column_type_change_raises(spark, tmp_path):
    """A group column the source widens (int -> double, legal for the
    source) cannot be absorbed: the view keys groups by their values' JSON
    text, so 1 and 1.0 would be two groups. The refresh raises instead of
    splitting a group."""
    src = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("g", T.IntegerType()),
    ])
    t = IceboxTable.create(spark, str(tmp_path / "t"), src, key="doc_id", n_buckets=2)
    t.merge(spark.createDataFrame(
        [("upsert", 1, 1, 1), ("upsert", 2, 2, 2)],
        "op string, doc_id long, g int, seq long"), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["g"],
        aggs={"n": ("count", None)}, source_schema=src,
    )
    view.refresh_from(t)
    t.update_schema(T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("g", T.DoubleType()),
    ]))
    t.merge(spark.createDataFrame(
        [("upsert", 3, 1.0, 3)], "op string, doc_id long, g double, seq long"), "b2")
    with pytest.raises(AggSpecError, match="'g'"):
        view.refresh_from(t)


def test_spec_validation(spark, tmp_path):
    with pytest.raises(AggSpecError, match="group_cols"):
        AggView.create(spark, str(tmp_path / "a"), group_cols=[],
                       aggs={"n": ("count", None)}, source_schema=SCHEMA)
    with pytest.raises(AggSpecError, match="not in source"):
        AggView.create(spark, str(tmp_path / "b"), group_cols=["nope"],
                       aggs={"n": ("count", None)}, source_schema=SCHEMA)
    with pytest.raises(AggSpecError, match="unknown agg kind"):
        AggView.create(spark, str(tmp_path / "c"), group_cols=["source"],
                       aggs={"n": ("median", "n_tok")}, source_schema=SCHEMA)
    with pytest.raises(AggSpecError, match="numeric"):
        AggView.create(spark, str(tmp_path / "d"), group_cols=["source"],
                       aggs={"s": ("sum", "source")}, source_schema=SCHEMA)
    with pytest.raises(AggSpecError, match="needs a source column"):
        AggView.create(spark, str(tmp_path / "e"), group_cols=["source"],
                       aggs={"m": ("min", None)}, source_schema=SCHEMA)
    with pytest.raises(AggSpecError, match="collides"):
        AggView.create(spark, str(tmp_path / "f"), group_cols=["source"],
                       aggs={"source": ("count", None)}, source_schema=SCHEMA)


def test_widening_committed_through_other_handle_is_seen(spark, tmp_path):
    """r6 ADVICE fix: the widening check must run against the REFRESHED
    source handle. A widening + wide merge committed through ANOTHER
    handle (or another driver) inside the change window would otherwise
    be validated against the stale schema and the view merge's
    normalization cast could wrap the wide value."""
    from sparkcdc.icebox import IceboxTable as _IT

    src = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_tok", T.IntegerType()),
    ])
    t = _IT.create(spark, str(tmp_path / "t"), src, key="doc_id", n_buckets=2)
    t.merge(spark.createDataFrame(
        [("upsert", i, "s0", 10 + i, i + 1) for i in range(4)],
        "op string, doc_id long, source string, n_tok int, seq long"), "b1")
    view = AggView.create(
        spark, str(tmp_path / "v"), group_cols=["source"],
        aggs={"tok": ("sum", "n_tok"), "mx": ("max", "n_tok")},
        source_schema=src,
    )
    view.refresh_from(t)
    # widening + wide value arrive through a DIFFERENT handle; the view's
    # handle `t` is now stale
    other = _IT.load(spark, str(tmp_path / "t"))
    other.update_schema(T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_tok", T.LongType()),
    ]))
    other.merge(spark.createDataFrame(
        [("upsert", 50, "s0", 2 ** 33, 100)],
        "op string, doc_id long, source string, n_tok long, seq long"), "b2")
    view.refresh_from(t)  # stale handle — must refresh before validating
    [row] = view.read().collect()
    assert row.mx == 2 ** 33 and row.tok == sum(10 + i for i in range(4)) + 2 ** 33


def test_engine_rejects_changed_spec_for_existing_view(spark, tmp_path):
    """r6 ADVICE fix: when the aggview table already exists, a config whose
    spec differs from the persisted one must raise ConfigError instead of
    silently maintaining the old spec."""
    from sparkcdc.changelog import generate_changelog, write_log_parquet
    from sparkcdc.config import ConfigError, JobConfig
    from sparkcdc.engine import CDCEngine

    log = generate_changelog(spark, 1_000, 100, seed=3)
    wal_path = str(tmp_path / "wal")
    write_log_parquet(log, wal_path)
    base = dict(
        log_path=wal_path, table_path=str(tmp_path / "tbl"), n_buckets=2,
        batch_size=1_000, aggview_path=str(tmp_path / "view"),
        aggview_group_cols=["source"],
        aggview_aggs={"n_docs": ["count", None]},
    )
    CDCEngine(spark, JobConfig(**base)).run()
    # same spec reloads fine
    CDCEngine(spark, JobConfig(**base))
    with pytest.raises(ConfigError, match="spec"):
        CDCEngine(spark, JobConfig(**{
            **base, "aggview_aggs": {"n_docs": ["count", None],
                                     "sum_tok": ["sum", "n_tok"]},
        }))
    with pytest.raises(ConfigError, match="spec"):
        CDCEngine(spark, JobConfig(**{**base, "aggview_group_cols": ["op"]}))


def test_engine_rejects_changed_spec_for_existing_packed_table(spark, tmp_path):
    """The packed sibling of the view check above: a packed table keeps
    maintaining the spec it was created with, so reopening it under a
    different ``packed_seq_len`` or ``packed_shard_col`` raises instead
    of silently packing with the old one."""
    from sparkcdc.changelog import generate_changelog, write_log_parquet
    from sparkcdc.config import ConfigError, JobConfig
    from sparkcdc.engine import CDCEngine

    wal_path = str(tmp_path / "wal")
    write_log_parquet(generate_changelog(spark, 200, 20, seed=3), wal_path)
    base = dict(
        log_path=wal_path, table_path=str(tmp_path / "tbl"), n_buckets=2,
        packed_path=str(tmp_path / "pk"), packed_seq_len=32,
        packed_tokens_col="tokens", packed_shard_col="source",
    )
    CDCEngine(spark, JobConfig(**base))  # creates
    # the same spec reloads fine
    assert CDCEngine(spark, JobConfig(**base)).packed.seq_len == 32
    with pytest.raises(ConfigError, match="spec") as exc:
        CDCEngine(spark, JobConfig(**{**base, "packed_seq_len": 64}))
    assert "seq_len=32" in str(exc.value) and "seq_len=64" in str(exc.value)
    with pytest.raises(ConfigError, match="spec"):
        CDCEngine(spark, JobConfig(**{**base, "packed_shard_col": "n_tok"}))


def test_engine_rejects_changed_spec_for_existing_vector_index(spark, tmp_path):
    """The vector sibling: a changed ``vecindex_dim`` raises (the index
    would otherwise drop every vector of the new width), while an
    omitted one reuses the stored dim."""
    from sparkcdc.config import ConfigError, JobConfig
    from sparkcdc.engine import CDCEngine

    wal_path = str(tmp_path / "wal")
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, -1.0], i + 1, "upsert") for i in range(8)],
        "vec_id long, embedding array<float>, seq long, op string",
    ).write.parquet(wal_path)
    base = dict(
        log_path=wal_path, table_path=str(tmp_path / "tbl"), n_buckets=2,
        key="vec_id", vecindex_path=str(tmp_path / "vidx"), vecindex_dim=4,
    )
    CDCEngine(spark, JobConfig(**base))  # creates
    CDCEngine(spark, JobConfig(**base))  # same spec reloads fine
    omitted = CDCEngine(spark, JobConfig(**{**base, "vecindex_dim": None}))
    assert omitted.vecindex.dim == 4
    with pytest.raises(ConfigError, match="spec") as exc:
        CDCEngine(spark, JobConfig(**{**base, "vecindex_dim": 8}))
    assert "dim=4" in str(exc.value) and "dim=8" in str(exc.value)
