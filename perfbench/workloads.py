"""The three workloads. Sizes, bucket counts, batch sizes and the tail's
offered rate are fixed here; nothing is derived from the core count, so
every machine runs the same merge plans on the same inputs.

Each workload is driven only through the engine's public calls and has
four phases: ``setup`` (timed, repeated; the last repetition's state is
measured), ``warmup`` (untimed), ``measure`` (the timed window) and
``check`` (untimed output checks).

A window runs whole cycles until ``seconds`` have passed: one replay of the
WAL, one pass of the dedup operators, or, in the tail, every segment
released during the window up to the commit that makes it visible. At the
default sizes one cycle outlasts a 2 s window on any machine speed seen so
far. That keeps the cycle count, and so the figures, from flipping between
one and two cycles from run to run.
"""

from __future__ import annotations

import filecmp
import os
import threading
import time

import pyarrow.parquet as pq

from perfbench import checks, gen, reference


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.samples: list[float] = []  # latency of each operation, s
        self.units = 0                   # work units completed in the window
        self.busy_s = 0.0                # wall over which they completed
        self.attempted = 0
        self.errors: list[str] = []
        self.info: dict = {}

    def expect(self, error: str) -> None:
        """Count one check; keep its error when it failed."""
        self.attempted += 1
        if error:
            self.errors.append(error)

    def same_files(self, a: str, b: str) -> None:
        """Set-up repetitions from one seed must write identical bytes."""
        names = sorted(os.listdir(a))
        _, diff, errs = filecmp.cmpfiles(a, b, names, shallow=False)
        self.expect("" if names and not diff and not errs
                    else f"seeded inputs differ between set-ups: {diff + errs}")

    def derived_tables(self) -> list[str]:
        """Paths of derived icebox tables; every other table is a CDC
        target."""
        return []


class Backfill(Workload):
    """Closed loop, one job: replay a pre-written parquet WAL into a fresh
    copy-on-write table, repeatedly. One operation = one batch."""

    name = "backfill"
    N_EVENTS = 80_000
    N_DOCS = 8_000
    HOT_PCT = 10      # one hot key: trips the skew plan at 64 buckets
    DUP_PCT = 5       # at-least-once re-delivery
    BATCH = 20_000
    BUCKETS = 64
    FILES = 4

    def setup(self, rep: int) -> None:
        self.wal_tbl = gen.backfill_wal(self.seed, self.N_EVENTS, self.N_DOCS,
                                        hot_pct=self.HOT_PCT, dup_pct=self.DUP_PCT)
        self.wal = os.path.join(self.work, f"wal{rep}")
        gen.write_wal(self.wal_tbl, self.wal, files=self.FILES)
        if rep:
            self.same_files(os.path.join(self.work, "wal0"), self.wal)

    def _replay(self, wal: str, table: str, batch: int, lat: list | None):
        from sparkcdc.config import JobConfig
        from sparkcdc.engine import CDCEngine

        eng = CDCEngine(self.spark, JobConfig(
            log_path=wal, table_path=table, batch_size=batch, n_buckets=self.BUCKETS))
        if lat is not None:
            apply = eng.apply_batch

            def timed(lo, hi):
                t = time.perf_counter()
                out = apply(lo, hi)
                lat.append(time.perf_counter() - t)
                return out

            eng.apply_batch = timed
        eng.run()
        return eng

    def warmup(self) -> None:
        small = gen.backfill_wal(self.seed + 1, 8_000, 800,
                                 hot_pct=self.HOT_PCT, dup_pct=self.DUP_PCT)
        gen.write_wal(small, os.path.join(self.work, "warm-wal"), files=2)
        self._replay(os.path.join(self.work, "warm-wal"),
                     os.path.join(self.work, "warm-t"), 4_000, None)

    def measure(self) -> None:
        self.tables, plans = [], []
        start = time.perf_counter()
        while time.perf_counter() - start < self.seconds:
            path = os.path.join(self.work, f"t{len(self.tables)}")
            t = time.perf_counter()
            with self.tracer.span("backfill.replay"):
                eng = self._replay(self.wal, path, self.BATCH, self.samples)
            self.busy_s += time.perf_counter() - t
            self.units += self.wal_tbl.num_rows
            self.tables.append(eng.table)
            plans.append([r.get("merge_plan") for r in eng.metrics.records
                          if r.get("kind") == "batch"])
        self.info["merge_plans"] = plans

    def check(self) -> None:
        expected = checks.replay_expected([self.wal_tbl])
        for t in self.tables:
            self.expect(checks.row_count_error(t, expected))
        self.expect(checks.table_error(self.tables[-1], expected))


class Tail(Workload):
    """Open loop: a generator thread releases pre-written WAL segments
    into the WAL directory on a fixed schedule that never waits for the
    engine; the engine loop calls ``run()`` whenever segments are pending,
    with auto merge mode, delta-file compaction, the write-audit-publish
    gate, a packed table and an aggregate view. One operation = one
    segment; its latency is freshness: from its due time to the return of
    the ``run()`` that committed it and refreshed the derived tables."""

    name = "tail"
    N_DOCS = 4_000
    N_SHARDS = 100         # packing shards (the ``source`` column)
    SHARDS_PER_SEGMENT = 3
    SEG_EVENTS = 10
    INTERVAL_S = 0.25      # offered load: 40 events/s
    BUCKETS = 8
    COMPACT_DELTAS = 8     # folds once per window, in its first run
    SEQ_LEN = 256
    WARM_SEGMENTS = 1
    AUDIT = ["token_invariant", "key_unique", "lsn_advance"]
    AGGS = {"n_docs": ["count", None], "sum_tok": ["sum", "n_tok"]}

    def _engine(self, tailing: bool):
        """The CDC engine over this set-up's WAL and table; ``tailing``
        turns on everything the tail loop maintains at each commit."""
        from sparkcdc.config import JobConfig
        from sparkcdc.engine import CDCEngine

        cfg = JobConfig(
            log_path=os.path.join(self.root, "wal"),
            table_path=os.path.join(self.root, "t"),
            batch_size=1_000_000, n_buckets=self.BUCKETS, merge_mode="auto",
        )
        if tailing:
            cfg.compact_delta_files = self.COMPACT_DELTAS
            cfg.audit_checks = self.AUDIT
            cfg.packed_path = os.path.join(self.root, "packed")
            cfg.packed_seq_len = self.SEQ_LEN
            cfg.packed_tokens_col, cfg.packed_shard_col = "tokens", "source"
            cfg.aggview_path = os.path.join(self.root, "agg")
            cfg.aggview_group_cols, cfg.aggview_aggs = ["source"], self.AGGS
        return CDCEngine(self.spark, cfg)

    def setup(self, rep: int) -> None:
        """Write the inputs and pre-load the table (one insert per key)."""
        self.root = os.path.join(self.work, f"r{rep}")
        self.load = gen.sharded_load(self.seed, self.N_DOCS, self.N_SHARDS)
        n_seg = self.WARM_SEGMENTS + int(self.seconds / self.INTERVAL_S)
        self.segments = gen.sharded_segments(
            self.seed, self.load.num_rows, self.N_DOCS, self.N_SHARDS,
            segments=n_seg, seg_events=self.SEG_EVENTS,
            shards_per_segment=self.SHARDS_PER_SEGMENT)
        gen.write_wal(self.load, os.path.join(self.root, "wal"), prefix="load")
        if rep:
            self.same_files(os.path.join(self.work, "r0", "wal"),
                            os.path.join(self.root, "wal"))
        self._engine(tailing=False).run()

    def _release(self, i: int) -> None:
        wal = os.path.join(self.root, "wal")
        tmp = os.path.join(wal, f".seg-{i:05d}.tmp")  # hidden from scans
        pq.write_table(self.segments[i], tmp)
        os.rename(tmp, os.path.join(wal, f"seg-{i:05d}.parquet"))

    def warmup(self) -> None:
        """Bootstrap the derived tables with the first segment, untimed."""
        self.eng = self._engine(tailing=True)
        for i in range(self.WARM_SEGMENTS):
            self._release(i)
            self.eng.run()

    def derived_tables(self) -> list[str]:
        return [os.path.abspath(os.path.join(self.root, d)) for d in ("packed", "agg")]

    def measure(self) -> None:
        segs = list(range(self.WARM_SEGMENTS, len(self.segments)))
        top = {i: int(self.segments[i].column("seq").to_numpy().max()) for i in segs}
        released = []              # (segment, due, released_at), in order
        start = time.perf_counter()

        def generator():
            for k, i in enumerate(segs):
                due = start + k * self.INTERVAL_S
                time.sleep(max(0.0, due - time.perf_counter()))
                self._release(i)
                released.append((i, due, time.perf_counter()))

        th = threading.Thread(target=generator, name="wal-generator", daemon=True)
        th.start()
        done, runs, plans = 0, 0, []
        try:
            while done < len(segs):
                if len(released) == done:
                    time.sleep(0.01)
                    continue
                n_before = len(self.eng.metrics.records)
                with self.tracer.span("tail.run"):
                    self.eng.run()
                end = time.perf_counter()
                runs += 1
                lsn = int(self.eng.table.lineage["last_applied_lsn"])
                while done < len(released) and top[released[done][0]] <= lsn:
                    self.samples.append(end - released[done][1])
                    self.units += self.segments[released[done][0]].num_rows
                    self.busy_s = end - start
                    done += 1
                plans += [r.get("merge_plan") for r in self.eng.metrics.records[n_before:]
                          if r.get("kind") == "batch"]
        finally:
            th.join(timeout=60)
        self.expect("wal generator did not finish" if th.is_alive() else "")
        self.info.update(
            runs=runs, merge_plans=plans,
            generator_late_s=max((r - d for _, d, r in released), default=0.0),
            delta_files=sum(1 for e in self.eng.table.snapshot["manifest"]
                            if e.get("kind") == "delta"),
        )

    def check(self) -> None:
        expected = checks.replay_expected([self.load] + self.segments)
        self.expect(checks.table_error(self.eng.table, expected))
        self.expect(checks.packed_error(self.eng.packed, self.eng.table, self.SEQ_LEN))
        self.expect(checks.aggview_error(self.eng.aggview, self.eng.table))


class Dedup(Workload):
    """Closed loop: the three near-duplicate operators in turn over a
    generated corpus with Zipf-distributed words, a boilerplate header on
    a share of documents (heavy shingle join keys) and planted
    near-duplicate clusters. One operation = one operator call, including
    the corpus scan and the collect of its pairs."""

    name = "dedup"
    N_BASE = 2_000
    WORDS_PER_DOC = 50
    ZIPF_A, ZIPF_PCT = 1.2, 30
    BOILER_PCT = 30
    CLUSTERS, CLUSTER_SIZE, EDITS = 100, 4, 4
    THRESHOLD = 0.6
    MAX_HAMMING = 4
    OPS = ("ngram_jaccard", "lsh_verified", "simhash")

    def _corpus(self, seed: int, n_base: int, clusters: int, path: str):
        tbl, _ = gen.corpus(
            seed, n_base, words_per_doc=self.WORDS_PER_DOC, zipf_a=self.ZIPF_A,
            zipf_pct=self.ZIPF_PCT, boiler_pct=self.BOILER_PCT, clusters=clusters,
            cluster_size=self.CLUSTER_SIZE, edits=self.EDITS)
        os.makedirs(path)
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        return tbl

    def setup(self, rep: int) -> None:
        self.path = os.path.join(self.work, f"corpus{rep}")
        self.corpus = self._corpus(self.seed, self.N_BASE, self.CLUSTERS, self.path)
        if rep:
            self.same_files(os.path.join(self.work, "corpus0"), self.path)

    def _pairs(self, op: str, path: str, n_rows: int) -> set:
        from sparkcdc import dedupe_docs as dd

        df = self.spark.read.parquet(path)
        if op == "ngram_jaccard":
            out = dd.ngram_jaccard_pairs(df, threshold=self.THRESHOLD)
        elif op == "lsh_verified":
            out = dd.lsh_verified_pairs(df, threshold=self.THRESHOLD)
        else:
            out = dd.simhash_near_pairs(df, max_hamming=self.MAX_HAMMING, n_rows=n_rows)
        return {(r[0], r[1]) for r in out.select("doc1", "doc2").collect()}

    def warmup(self) -> None:
        path = os.path.join(self.work, "warm-corpus")
        tbl = self._corpus(self.seed + 1, 200, 10, path)
        for op in self.OPS:
            self._pairs(op, path, tbl.num_rows)

    def measure(self) -> None:
        self.results: list[tuple[str, set]] = []
        start = time.perf_counter()
        while time.perf_counter() - start < self.seconds:
            for op in self.OPS:
                t = time.perf_counter()
                with self.tracer.span(f"dedupe_docs.{op}"):
                    pairs = self._pairs(op, self.path, self.corpus.num_rows)
                self.samples.append(time.perf_counter() - t)
                self.units += self.corpus.num_rows
                self.results.append((op, pairs))
        self.busy_s = time.perf_counter() - start
        self.info["pairs"] = {op: len(p) for op, p in self.results[:3]}

    def check(self) -> None:
        ids = self.corpus.column("doc_id").to_pylist()
        texts = self.corpus.column("text").to_pylist()
        ngram = reference.ngram_pairs(ids, self.corpus.column("lang").to_pylist(),
                                      texts, self.THRESHOLD)
        expected = {
            "ngram_jaccard": ngram,
            "lsh_verified": reference.lsh_verified(ngram, dict(zip(ids, texts))),
            "simhash": reference.simhash_pairs(
                ids, reference.simhash_native(texts), self.MAX_HAMMING),
        }
        for op, pairs in self.results:
            self.expect(checks.pairs_error(pairs, expected[op], op))


WORKLOADS = {w.name: w for w in (Backfill, Tail, Dedup)}
