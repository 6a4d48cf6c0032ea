"""derived — the shared machinery of tables derived from an icebox table's
change feed (SignatureIndex, SimhashIndex, NgramIndex, VectorIndex,
PackedTable, AggView) and of user-defined sinks fed the same way.

Every consumer follows one discipline:

  change_window(consumer)                   -- pinned read_changes window
    → derive / fold the changed rows only   -- O(batch)
    → MERGE, batch id = (from, to) pair     -- exactly-once under replay
    → advance_pin                           -- pin released
    → too_many_deltas → compact             -- bounded read amplification

The source table's consumer registry pins the from-snapshot, so
expiration can never break a consumer's incremental reader, and a crash
between the MERGE and the pin advance replays the same window as a fenced
no-op.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .icebox import IceboxTable


def change_window(
    src_table: IceboxTable, *, consumer: str, mode: str = "net"
) -> tuple:
    """Consumer-pinned change window: ``(from_sid, to_sid, changes)``.

    ``changes is None`` means up to date (nothing to fold);
    ``from_sid is None`` means bootstrap-onto-expired — the caller must
    register the consumer only AFTER its merge is durable (a crash in
    between just redoes the bootstrap; LWW makes the re-merge a
    harmless rewrite). ``mode`` is passed through to ``read_changes``
    ("net" or "cdf"); the bootstrap slice is shaped to match."""
    to_sid = src_table.refresh()["snapshot_id"]
    regs = src_table.consumers()
    if consumer in regs:
        from_sid = regs[consumer]
        if from_sid == to_sid:
            return from_sid, to_sid, None
        return from_sid, to_sid, src_table.read_changes(from_sid, to_sid, mode=mode)
    if 0 in src_table._history_ids():
        # bootstrap: snapshot 0 is the empty created table, so the
        # first refresh indexes the whole current corpus as "changes"
        from_sid = src_table.register_consumer(consumer, 0)
        if from_sid == to_sid:
            return from_sid, to_sid, None
        return from_sid, to_sid, src_table.read_changes(from_sid, to_sid, mode=mode)
    # bootstrap onto a table whose empty snapshot is already expired:
    # the full current state IS the change set (every visible row as
    # an insert/upsert at its own LSN).
    tag = F.lit("insert").alias("_change_type") if mode == "cdf" else (
        F.lit("upsert").alias("_change")
    )
    ch = src_table.read(to_sid, with_seq=True).select(tag, "*").drop("_deleted")
    return None, to_sid, ch


def advance_pin(src_table: IceboxTable, consumer: str, from_sid, to_sid: int) -> None:
    """Move ``consumer``'s pin to ``to_sid`` once its window is durable
    (registering it on a bootstrap-onto-expired window)."""
    if from_sid is None:
        src_table.register_consumer(consumer, to_sid)
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
    from a source table's change feed: consumer-pinned window, a
    subclass-supplied derivation over ONLY the changed rows, LWW MERGE
    into the index, and exactly-once replay via a (from, to)-snapshot
    batch id. Source rows the derivation cannot represent (too-short
    docs, null vectors) are REMOVED from the index rather than stored
    degenerate."""

    table: IceboxTable

    # fold MOR delta files back into bucket bases once more than this many
    # accumulate (the engine's compact_delta_files discipline):
    # steady-state refreshes are small relative to the index, so the
    # cost-based merge lands them as O(batch) deltas — without periodic
    # folding, read-time LWW resolution degrades as deltas stack up
    compact_delta_files: int = 32

    def _compact_if_needed(self, m: dict) -> dict:
        if too_many_deltas(self.table, self.compact_delta_files):
            return {**m, "compacted": self.table.compact()}
        return m

    def _refresh(self, src_table: IceboxTable, *, consumer: str, derive) -> dict:
        """``derive(upserts) -> DataFrame`` maps changed source rows (the
        ``_change='upsert'`` slice of the feed, payload columns intact) to
        index payload rows keyed by the index key; rows it omits are
        deleted from the index. O(changed source buckets) end to end."""
        from_sid, to_sid, ch = change_window(src_table, consumer=consumer)
        if ch is None:
            return {
                "skipped": True, "from_snapshot": from_sid, "to_snapshot": to_sid,
            }
        key = self.table.key
        schema = self.table.schema
        payload_cols = [f.name for f in schema.fields if f.name != key]
        # the index row's LWW seq is the WINDOW's target snapshot id, not
        # the source row's own seq (PackedTable's convention): refresh
        # order is what must win. With row seqs, a rollback-restored row
        # (lower seq than the stale indexed version) would LOSE the merge
        # and the index would keep the rolled-back value forever — the
        # change feed now emits such reversals (icebox.read_changes) and
        # the monotone to_sid lets them land. Exactly-once is unchanged:
        # the batch id is still the (from, to) snapshot pair.
        win_seq = F.lit(int(to_sid)).cast("long").alias("_seq")
        ups = ch.where(F.col("_change") == "upsert")
        derived = derive(ups)
        keyed = ups.select(key)
        idx_up = keyed.join(derived, key).select(
            F.lit("upsert").alias("_change"), key, *payload_cols, win_seq
        )
        nulls = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
            if f.name != key
        ]
        unrepresentable = keyed.join(derived.select(key), key, "left_anti")
        removals = (
            ch.where(F.col("_change") == "delete")
            .select(key)
            .unionByName(unrepresentable)
            .select(F.lit("delete").alias("_change"), key, *nulls, win_seq)
        )
        m = self.table.merge(
            idx_up.unionByName(removals),
            batch_id=f"{consumer}:{from_sid}->{to_sid}",
            seq_col="_seq",
            op_col="_change",
            delete_value="delete",
            fence=False,
            tombstones=True,
            # cost-based: a small steady-state refresh lands as MOR deltas
            # (O(batch) write) instead of COW-rewriting its buckets; the
            # bootstrap (batch ≈ index) goes copy-on-write
            mor=None,
        )
        advance_pin(src_table, consumer, from_sid, to_sid)
        m = self._compact_if_needed(m)
        return {**m, "from_snapshot": from_sid, "to_snapshot": to_sid}


def consume_changes(
    src_table: IceboxTable,
    consumer: str,
    apply_fn,
    *,
    mode: str = "net",
) -> dict:
    """The consumer-window machinery as a PUBLIC primitive: feed a
    user-defined downstream sink from the table's change feed with the
    same discipline the built-in consumers (SignatureIndex, VectorIndex,
    NgramIndex, PackedTable) use — the registry pins the from-snapshot
    (expiration can never break the feed), the window is
    ``read_changes(from=last-synced)`` in ``mode`` ("net" or "cdf"), and
    the pin advances ONLY after ``apply_fn`` returns.

    ``apply_fn(changes_df, from_sid, to_sid)`` — a crash before the pin
    advance replays the SAME (from, to) window on the next call, so
    end-to-end semantics are exactly-once iff the sink is idempotent per
    window (e.g. keyed by the (from, to) pair — the icebox MERGE batch-id
    convention) and at-least-once otherwise. Returns the window metadata
    plus whatever dict ``apply_fn`` returned."""
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
