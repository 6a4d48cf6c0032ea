"""derived — the shared machinery of tables derived from an icebox table's
change feed (SignatureIndex, SimhashIndex, NgramIndex, VectorIndex,
PackedTable, AggView) and of user-defined sinks fed the same way.

Every built-in consumer refreshes through ONE fold,
``IncrementalIndex._fold``, on the same window-and-pin machinery as the
public ``consume_changes``; a table supplies only the rows to merge:

  change_window(consumer)                   -- pinned read_changes window
    → rows(changes)                         -- the table's part, O(batch)
    → materialize rows once                 -- probe + write read the blocks
    → MERGE, _seq = to, id = consumer:from->to  -- exactly-once under replay
    → advance_pin                           -- pin released
    → too_many_deltas → compact             -- bounded read amplification

Each commit's window is evaluated once. Inside a ``shared_windows()``
scope (the engine opens one around its refreshes after each commit),
``change_window`` reads ``read_changes(from, to, mode="cdf")`` once per
``(source, from, to)``, materializes it with ``localCheckpoint``, and hands
it to every consumer pinned at ``from`` — net-mode consumers get its
``net_of_cdf`` projection; a consumer whose pin lags reads its own
window. The fold then materializes its ``_seq``-stamped rows once, so the
merge's probe and its write both read blocks instead of re-running the
diff, a repack or the IVM joins. ``release`` frees every such block at
the end of the fold and of the scope, on success and on error. A direct
call to ``consume_changes`` still hands its sink the lazy window: a sink
may keep a plan over it, and a released checkpoint cannot be recomputed.

The source table's consumer registry pins the from-snapshot, so
expiration can never break a consumer's incremental reader, and a crash
between the MERGE and the pin advance replays the same window as a fenced
no-op. A bootstrap onto a source whose empty snapshot 0 has expired has
no from-snapshot: its window is the full state at ``to``, and that
snapshot is pinned under the reserved provisional name
``<consumer>#bootstrap`` BEFORE the merge. ``advance_pin`` swaps it for
the real pin, so a crash in between re-reads the same window (fenced)
rather than folding a newer full state over the first one.

Every derived table also shares one lifecycle, on ``IncrementalIndex``:
a table's ``create`` builds only its schema and spec dict and hands them
to ``_create``, which creates the icebox table and writes the spec as a
JSON sidecar (``SPEC_FILE``) in the table's metadata store; ``load``
reads that sidecar back. Both build the instance from the persisted spec
and keep it as ``spec``. The engine opens every derived table it
maintains through one create-or-load, ``CDCEngine._open_derived``, which
compares the persisted spec with the one the config asks for and raises
``ConfigError`` on a mismatch — a reopened table never keeps maintaining
a spec the operator believes was changed.
"""

from __future__ import annotations

import contextlib
import contextvars
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .commitstore import CommitStore, PosixCommitStore
from .icebox import IceboxTable, net_of_cdf
from .session import materialize, release


# suffix of the provisional pin a bootstrap-onto-expired window holds
# until its merge is durable (reserved: no consumer name may end with it)
BOOTSTRAP_PIN = "#bootstrap"


class _Windows:
    """A ``shared_windows`` scope: the materialized CDF of each
    ``(source path, from, to)`` read so far, and the blocks they hold."""

    def __init__(self):
        self.cdfs: dict = {}
        self.held: list = []


_SCOPE: contextvars.ContextVar = contextvars.ContextVar("derived_windows", default=None)


@contextlib.contextmanager
def shared_windows():
    """Scope in which each source window is read and evaluated once for
    every consumer pinned at its from-snapshot (see ``change_window``).
    Its blocks are freed when the scope exits, on success and on error."""
    scope = _Windows()
    token = _SCOPE.set(scope)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        release(scope.held)


def _read_window(src_table: IceboxTable, from_sid: int, to_sid: int, mode: str) -> DataFrame:
    """``read_changes(from_sid, to_sid, mode=mode)`` — outside a
    ``shared_windows`` scope as a lazy plan; inside one, a projection of
    the scope's one materialized CDF read of that window."""
    scope = _SCOPE.get()
    if scope is None:
        return src_table.read_changes(from_sid, to_sid, mode=mode)
    k = (src_table.path, from_sid, to_sid)
    if k not in scope.cdfs:
        scope.cdfs[k] = materialize(
            src_table.read_changes(from_sid, to_sid, mode="cdf"), scope.held
        )
    cdf = scope.cdfs[k]
    return cdf if mode == "cdf" else net_of_cdf(cdf, src_table.key)


def change_window(
    src_table: IceboxTable, *, consumer: str, mode: str = "net"
) -> tuple:
    """Consumer-pinned change window: ``(from_sid, to_sid, changes)``.

    ``changes is None`` means up to date (nothing to fold);
    ``from_sid is None`` means bootstrap-onto-expired: ``changes`` is the
    full source state at ``to_sid``, a snapshot held by the provisional
    pin ``<consumer>#bootstrap`` until ``advance_pin``. A retry after a
    crash between the caller's merge and the pin returns that SAME window
    again, so a merge keyed by the (from, to) pair is a fenced no-op —
    re-merging a newer full state would fold the bootstrap twice (an
    aggregate double-counts; an LWW index keeps rows deleted since).
    ``mode`` is passed through to ``read_changes`` ("net" or "cdf"); the
    bootstrap slice is shaped to match.

    Inside a ``shared_windows`` scope, ``changes`` of a pinned window is
    the scope's one materialized ``mode="cdf"`` read of ``(from, to)`` on
    this source — read on the first request, handed to every later
    consumer pinned at the same ``from`` (as its net projection in net
    mode) and freed when the scope exits. A bootstrap-onto-expired window
    is not shared."""
    to_sid = src_table.refresh()["snapshot_id"]
    regs = src_table.consumers()
    provisional = consumer + BOOTSTRAP_PIN
    if consumer in regs:
        if provisional in regs:  # crash inside advance_pin's swap
            src_table.deregister_consumer(provisional)
        from_sid = regs[consumer]
        if from_sid == to_sid:
            return from_sid, to_sid, None
        return from_sid, to_sid, _read_window(src_table, from_sid, to_sid, mode)
    if provisional in regs:
        to_sid = regs[provisional]  # replay the pinned bootstrap window
    elif 0 in src_table._history_ids():
        # bootstrap: snapshot 0 is the empty created table, so the
        # first refresh indexes the whole current corpus as "changes"
        from_sid = src_table.register_consumer(consumer, 0)
        if from_sid == to_sid:
            return from_sid, to_sid, None
        return from_sid, to_sid, _read_window(src_table, from_sid, to_sid, mode)
    else:
        src_table.register_consumer(provisional, to_sid)
    # bootstrap onto a table whose empty snapshot is already expired:
    # the full state at to_sid IS the change set (every visible row as
    # an insert/upsert at its own LSN).
    tag = F.lit("insert").alias("_change_type") if mode == "cdf" else (
        F.lit("upsert").alias("_change")
    )
    ch = src_table.read(to_sid, with_seq=True).select(tag, "*").drop("_deleted")
    return None, to_sid, ch


def advance_pin(src_table: IceboxTable, consumer: str, from_sid, to_sid: int) -> None:
    """Move ``consumer``'s pin to ``to_sid`` once its window is durable. A
    bootstrap-onto-expired window (``from_sid is None``) registers the
    consumer, then drops its provisional pin."""
    if from_sid is None:
        src_table.register_consumer(consumer, to_sid)
        src_table.deregister_consumer(consumer + BOOTSTRAP_PIN)
    else:
        src_table.advance_consumer(consumer, to_sid)


def too_many_deltas(table: IceboxTable, limit: int | None) -> bool:
    """True when ``table`` holds more than ``limit`` merge-on-read delta
    files — the point past which read-time LWW resolution costs more than
    folding them into bucket bases. A falsy ``limit`` never trips."""
    return bool(limit) and limit < sum(
        1 for e in table.snapshot["manifest"] if e.get("kind") == "delta"
    )


class IncrementalIndex:
    """Shared machinery for derived icebox tables maintained incrementally
    from a source table's change feed. ``_fold`` is the one refresh path:
    consumer-pinned window, the subclass's rows over ONLY the changed
    rows, LWW MERGE into the table, and exactly-once replay via a
    (from, to)-snapshot batch id. ``_refresh`` is its form for keyed
    indexes over a per-row derivation: source rows the derivation cannot
    represent (too-short docs, null vectors) are REMOVED from the index
    rather than stored degenerate."""

    table: IceboxTable
    # name of the spec sidecar in the table's metadata store
    SPEC_FILE: str
    # the persisted spec the instance was built from (set by _open)
    spec: dict

    # fold MOR delta files back into bucket bases once more than this many
    # accumulate (the engine's compact_delta_files discipline):
    # steady-state refreshes are small relative to the index, so the
    # cost-based merge lands them as O(batch) deltas — without periodic
    # folding, read-time LWW resolution degrades as deltas stack up
    compact_delta_files: int = 32

    def __init__(self, spark, table: IceboxTable):
        self.spark = spark
        self.table = table

    @staticmethod
    def table_exists(path: str) -> bool:
        return IceboxTable.exists(path)

    @classmethod
    def _create(
        cls, spark, path: str, schema, *, key: str, n_buckets: int,
        store: CommitStore | None, spec: dict,
    ):
        """Create the table at ``path`` and persist ``spec`` (the keyword
        arguments of the constructor) in its ``SPEC_FILE`` sidecar. The
        sidecar is written first: the table becomes visible
        (``table_exists``) only once it can also be loaded, so a crash in
        between leaves a directory the next create simply reuses."""
        if store is None:
            store = PosixCommitStore(os.path.join(os.path.abspath(path), "metadata"))
        raw = json.dumps(spec).encode()
        store.put(cls.SPEC_FILE, raw)
        table = IceboxTable.create(
            spark, path, schema, key=key, n_buckets=n_buckets, store=store
        )
        return cls._open(spark, table, raw)

    @classmethod
    def load(cls, spark, path: str, *, store: CommitStore | None = None):
        """Open an existing table with the spec persisted at its creation."""
        table = IceboxTable.load(spark, path, store=store)
        return cls._open(spark, table, table._store.get(cls.SPEC_FILE))

    @classmethod
    def _open(cls, spark, table: IceboxTable, raw: bytes):
        # create and load both build from the persisted bytes, so a fresh
        # handle and a reopened one carry the same spec
        spec = json.loads(raw)
        obj = cls(spark, table, **spec)
        obj.spec = spec
        return obj

    def _compact_if_needed(self, m: dict) -> dict:
        if too_many_deltas(self.table, self.compact_delta_files):
            return {**m, "compacted": self.table.compact()}
        return m

    def _tombstones(self, keys: DataFrame) -> DataFrame:
        """Delete rows for the index keys in ``keys``: ``_change='delete'``,
        the key, and every other column NULL at its stored type."""
        key = self.table.key
        return keys.select(
            F.lit("delete").alias("_change"),
            key,
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in self.table.schema.fields
                if f.name != key
            ],
        )

    def _fold(self, src_table: IceboxTable, *, consumer: str, mode: str, rows) -> dict:
        """The one refresh path: fold ``consumer``'s window of the source's
        change feed (``mode`` "net" or "cdf") into this table.
        ``rows(changes, to_sid)`` is the table's only part — it returns the
        rows to merge, ``(_change, key, payload...)`` with ``_change`` in
        {upsert, delete}, or None when the window touches nothing here.
        Skipped when the window is empty; otherwise MERGE, pin advance,
        delta compaction, in that order. The rows are materialized once
        before the MERGE and freed after it, so its probe and its write
        share one evaluation of them."""
        folded = []  # set once the window is non-empty

        def apply(ch, from_sid, to_sid) -> dict:
            folded.append(True)
            batch = rows(ch, to_sid)
            if batch is None:
                return {}
            held: list = []
            try:
                # the merged rows' LWW seq is the WINDOW's target snapshot
                # id, not the source rows' own seqs: refresh order is what
                # must win. With row seqs, a rollback-restored row (lower
                # seq than the stale stored version) would LOSE the merge
                # and the table would keep the rolled-back value forever —
                # the change feed emits such reversals
                # (icebox.read_changes) and the monotone to_sid lets them
                # land. Exactly-once is unchanged: the batch id is still
                # the (from, to) snapshot pair.
                stamped = materialize(
                    batch.withColumn("_seq", F.lit(int(to_sid)).cast("long")), held
                )
                return self.table.merge(
                    stamped,
                    batch_id=f"{consumer}:{from_sid}->{to_sid}",
                    seq_col="_seq",
                    op_col="_change",
                    delete_value="delete",
                    fence=False,
                    tombstones=True,
                    # cost-based: a small steady-state refresh lands as MOR
                    # deltas (O(batch) write) instead of COW-rewriting its
                    # buckets; the bootstrap (batch ≈ table) goes
                    # copy-on-write
                    mor=None,
                )
            finally:
                release(held)

        m = _consume(src_table, consumer, apply, mode=mode)
        return self._compact_if_needed(m) if folded else m

    def _refresh(self, src_table: IceboxTable, *, consumer: str, derive) -> dict:
        """``derive(upserts) -> DataFrame`` maps changed source rows (the
        ``_change='upsert'`` slice of the feed, payload columns intact) to
        index payload rows keyed by the index key; rows it omits are
        deleted from the index. O(changed source buckets) end to end."""
        key = self.table.key

        def rows(ch, to_sid) -> DataFrame:
            payload_cols = [f.name for f in self.table.schema.fields if f.name != key]
            ups = ch.where(F.col("_change") == "upsert")
            derived = derive(ups)
            keyed = ups.select(key)
            idx_up = keyed.join(derived, key).select(
                F.lit("upsert").alias("_change"), key, *payload_cols
            )
            unrepresentable = keyed.join(derived.select(key), key, "left_anti")
            removals = (
                ch.where(F.col("_change") == "delete")
                .select(key)
                .unionByName(unrepresentable)
            )
            return idx_up.unionByName(self._tombstones(removals))

        return self._fold(src_table, consumer=consumer, mode="net", rows=rows)


def consume_changes(
    src_table: IceboxTable,
    consumer: str,
    apply_fn,
    *,
    mode: str = "net",
) -> dict:
    """The consumer-window machinery as a PUBLIC primitive: feed a
    user-defined downstream sink from the table's change feed with the
    same discipline the built-in consumers use (every one folds through
    the same window and pin steps, via ``IncrementalIndex._fold``) — the
    registry pins the from-snapshot (expiration can never break the feed),
    the window is ``read_changes(from=last-synced)`` in ``mode`` ("net" or
    "cdf"), and the pin advances ONLY after ``apply_fn`` returns.

    ``apply_fn(changes_df, from_sid, to_sid)`` — a crash before the pin
    advance replays the SAME (from, to) window on the next call, so
    end-to-end semantics are exactly-once iff the sink is idempotent per
    window (e.g. keyed by the (from, to) pair — the icebox MERGE batch-id
    convention) and at-least-once otherwise. ``changes_df`` is always the
    lazy window, also inside a ``shared_windows`` scope: the sink may keep
    a plan over it, which the scope's released blocks could not serve.
    Returns the window metadata plus whatever dict ``apply_fn`` returned."""
    token = _SCOPE.set(None)
    try:
        return _consume(src_table, consumer, apply_fn, mode=mode)
    finally:
        _SCOPE.reset(token)


def _consume(src_table: IceboxTable, consumer: str, apply_fn, *, mode: str) -> dict:
    """``consume_changes`` with the window ``change_window`` returns in
    the current scope (shared inside ``shared_windows``)."""
    from_sid, to_sid, ch = change_window(src_table, consumer=consumer, mode=mode)
    if ch is None:
        return {"skipped": True, "from_snapshot": from_sid, "to_snapshot": to_sid}
    out = apply_fn(ch, from_sid, to_sid)
    advance_pin(src_table, consumer, from_sid, to_sid)
    return {
        **(out if isinstance(out, dict) else {}),
        "from_snapshot": from_sid,
        "to_snapshot": to_sid,
    }
