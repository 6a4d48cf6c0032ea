"""icebox — a minimal Iceberg-style snapshot table for the CDC sink.

No Iceberg/Delta jar ships in this sandbox, so the engine implements the
subset of table-format semantics the north rule needs, with an
Iceberg-shaped API (`merge`, `update_schema`, snapshots, time travel) so a
real catalog can be swapped in later:

  * immutable data files + per-snapshot manifest (file list w/ bucket + schema version)
  * log-structured metadata: each commit writes ONLY a delta file
    (`commit-<id>.json`: added entries + removed buckets + touched-bucket
    lineage), with a full `checkpoint-<id>.json` every CHECKPOINT_EVERY
    commits — commit metadata is O(touched buckets), independent of total
    table file count (the Delta-Lake transaction-log shape; an inline
    full-manifest snapshot would be O(table files) rewritten per
    micro-batch — tens of MB per commit at 100 TB)
  * optimistic concurrency: the commit file itself is the CAS —
    ``os.link`` (atomic create-if-absent) publishes `commit-<id>.json`;
    a writer that lost the race inspects the intervening commits and
    REBASES (re-parents its bucket-granular delta) when touched-bucket
    sets are disjoint, or raises CommitConflictError so the caller
    recomputes — two concurrent writers (streaming merge + compact /
    expire maintenance) can never silently lose a commit
  * idempotent commits fenced by batch_id: re-committing an already-applied
    batch is a no-op (exactly-once under driver retry, north-rule T3),
    including the concurrent case (two drivers racing the same batch_id:
    the loser detects the id in an intervening commit and skips)
  * lineage checkpoint `(bucket/partition, last_applied_lsn)` stored inside
    the snapshot, i.e. transactionally with the data it describes (T7)
  * schema evolution commits (add column / widen type), every historical
    schema version retained so old files are read with their own schema and
    normalized forward (T6)

Scale design: the table is hash-bucketed by key (`bucket =
xxhash64(doc_id) % n_buckets`). MERGE is copy-on-write at *bucket*
granularity — only buckets touched by the incoming micro-batch are read,
merged and rewritten; untouched buckets carry over by manifest reference.
At 100 TB with n_buckets sized so a bucket fits an executor, a micro-batch
that touches k buckets costs O(k · bucket_size), not O(table).

Reference seeds: the commit/fence design replaces the reference's
non-resumable run loop (/root/reference/src/main/java/org/embulk/input/jira/
JiraInputPlugin.java:130-137 `resume()` pass-through, README.md:15
"Resume supported: no").
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commitstore import CommitStore, PosixCommitStore
from .dedup import lww_dedup
from .schema_infer import _widened

SEQ_COL = "_seq"  # system column: last-writer LSN per row
DELETED_COL = "_deleted"  # system column: tombstone marker

# Idempotency-fence window: batch ids older than this many commits are
# dropped from the snapshot (bounds metadata growth on long-running
# tables — otherwise every commit rewrites an ever-growing list). An
# evicted batch re-submitted in fenced mode is still harmless: the LSN
# fence drops all its events, so the re-commit is an empty no-op merge;
# streaming replays only touch the most recent epochs (checkpoint).
MAX_FENCE_IDS = 10_000

# Full-snapshot checkpoint cadence in the metadata commit log: loading the
# current state folds at most this many delta files onto the newest
# checkpoint, and the amortized per-commit metadata cost is
# O(touched buckets) + O(table files / CHECKPOINT_EVERY).
CHECKPOINT_EVERY = 20

# Rebase budget for a single optimistic commit before giving up (each
# iteration re-parents past ONE intervening disjoint commit).
MAX_REBASES = 32

# Consumer-registry GC lag: superseded consumers-<v>.json versions are
# only deleted once they are this many versions behind the newest. Keeping
# a few stale versions around (a) narrows the window in which a reader's
# list→get races a delete and (b) means a briefly-stalled mutator finds
# its target name still occupied (ordinary CAS loss) instead of
# re-winning a freed name. The *correctness* guard against the latter ABA
# is the post-publish max-check in _mutate_consumers; the lag just keeps
# that path rare.
CONSUMER_GC_LAG = 4


class CommitConflictError(RuntimeError):
    """Optimistic commit lost the race to a conflicting writer (overlapping
    touched buckets or concurrent schema change) — the caller must reload
    table state and recompute its commit. merge()/compact() do this
    automatically up to ``conflict_retries`` times."""


class SnapshotExpiredError(ValueError):
    """The requested snapshot is no longer in the metadata log (expired by
    ``expire_snapshots``). Incremental consumers should ``register_consumer``
    so expiration refuses to drop their from-snapshot."""


def bucket_expr(key_col: str, n_buckets: int) -> F.Column:
    """Bucket id = Spark's own shuffle-partition function
    pmod(murmur3_hash(key), n). Deliberate: a single
    ``repartition(n_buckets, key)`` then simultaneously satisfies the merge
    aggregation's distribution AND the on-disk bucket layout, so the
    payload crosses exactly ONE shuffle per merge (verified aligned with
    spark_partition_id in tests)."""
    return F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _mm3_mix(h1: int, halfword: int) -> int:
    """One Murmur3_x86_32 block step (mixK1 + mixH1), 32-bit wrapped."""
    k1 = (halfword * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _mm3_fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 & 0x80000000 else h1  # signed int32


def bucket_of(key, n_buckets: int, key_type: T.DataType) -> int | None:
    """Driver-side replica of ``bucket_expr`` for int/long/string keys —
    Spark's Murmur3_x86_32 (seed 42) with its non-standard tail (each
    remaining SIGNED byte mixed as its own one-byte block), then pmod.
    Lets point lookups map keys to buckets without launching a one-row
    Spark job per call. Returns None for key values/types it cannot
    replicate (callers fall back to evaluating the Catalyst expression);
    equality with ``bucket_expr`` is property-tested in
    tests/test_plans.py."""
    seed = 42
    if key is None or isinstance(key, bool):
        return None
    if isinstance(key_type, (T.LongType, T.IntegerType)) and isinstance(key, int):
        if isinstance(key_type, T.IntegerType):
            if not (-(1 << 31) <= key < (1 << 31)):
                return None
            h1 = _mm3_mix(seed, key & 0xFFFFFFFF)
            h = _mm3_fmix(h1, 4)
        else:
            if not (-(1 << 63) <= key < (1 << 63)):
                return None
            v = key & 0xFFFFFFFFFFFFFFFF
            h1 = _mm3_mix(seed, v & 0xFFFFFFFF)
            h1 = _mm3_mix(h1, v >> 32)
            h = _mm3_fmix(h1, 8)
    elif isinstance(key_type, T.StringType) and isinstance(key, str):
        data = key.encode("utf-8")
        n = len(data)
        h1 = seed
        for i in range(0, n - n % 4, 4):
            h1 = _mm3_mix(h1, int.from_bytes(data[i:i + 4], "little"))
        for i in range(n - n % 4, n):
            sb = data[i] if data[i] < 128 else data[i] - 256
            h1 = _mm3_mix(h1, sb & 0xFFFFFFFF)
        h = _mm3_fmix(h1, n)
    else:
        return None
    return ((h % n_buckets) + n_buckets) % n_buckets


def _normalize_to(df: DataFrame, target: T.StructType, *, evolved: bool) -> DataFrame:
    """Cast/pad a (possibly old-schema) DataFrame to the target schema.

    Pure Catalyst casts for widen/add; when the row came from an
    old-schema file (`evolved`), every target column typed
    ``array<int>`` (the pass's declared output type) additionally goes
    through the vectorized Arrow normalization pass (no per-row Python)
    required by the north rule for schema-evolution commits. The pass is
    chosen by type, never by column name.
    """
    out_cols = []
    for f in target.fields:
        if f.name in df.columns:
            out_cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            out_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    extra = [c for c in df.columns if c not in {f.name for f in target.fields}]
    res = df.select(*out_cols, *[F.col(c) for c in extra])
    ints = [f.name for f in target.fields if f.dataType.simpleString() == "array<int>"]
    if evolved and ints:
        from .coerce import normalize_token_arrays  # local import: avoids cycle

        res = res.withColumns({c: normalize_token_arrays(F.col(c)) for c in ints})
    return res


def net_of_cdf(cdf: DataFrame, key: str) -> DataFrame:
    """The net change feed as a projection of a ``read_changes`` CDF
    (``mode="cdf"``) keyed by ``key``: preimages dropped; a ``delete`` keeps
    its key and the last ``_seq`` visible at the from-snapshot (a
    physically-removed row's own delete LSN is not retained), with its
    payload nulled; every other row an ``upsert``. ``read_changes`` builds
    its ``mode="net"`` with it, and so does a window shared across
    consumers (``derived.shared_windows``) from its one CDF read."""
    deleted = F.col("_change_type") == "delete"
    return cdf.where(F.col("_change_type") != "update_preimage").select(
        F.when(deleted, F.lit("delete")).otherwise(F.lit("upsert")).alias("_change"),
        *[
            F.col(c) if c == key else F.when(~deleted, F.col(c)).alias(c)
            for c in cdf.columns
            if c not in ("_change_type", SEQ_COL)
        ],
        SEQ_COL,
    )


class IceboxTable:
    """Snapshot-committed, hash-bucketed keyed table."""

    # build per-file key bloom sidecars at write time (bloom.py) so point
    # lookups skip MOR delta files whose key RANGE covers everything but
    # that don't hold the key. Sidecars are built for DELTA files only
    # (r6): a COW/compacted bucket prunes to one file by bucket+range
    # alone, and hashing every rewritten bucket's keys per merge was an
    # O(table)-per-batch driver cost. Flip off per handle for write paths
    # where even the delta key-column read is unwanted.
    bloom_keys: bool = True

    def __init__(self, spark: SparkSession, path: str, *, store: CommitStore | None = None):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta_dir = os.path.join(self.path, "metadata")
        # every metadata read/write/CAS goes through the CommitStore — the
        # POSIX default keeps the on-disk layout; an object-store impl
        # (conditional PUT, see commitstore.py) slots in without touching
        # the commit protocol
        self._store = store if store is not None else PosixCommitStore(self._meta_dir)
        self._bloom_cache: dict[str, tuple] = {}  # sidecar relpath -> parsed bloom
        self._snap = self._load_current()

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        *,
        key: str = "doc_id",
        n_buckets: int = 64,
        store: CommitStore | None = None,
    ) -> "IceboxTable":
        path = os.path.abspath(path)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        if store is None:
            store = PosixCommitStore(os.path.join(path, "metadata"))
        import time as _time

        snap = {
            "snapshot_id": 0,
            "parent": None,
            "committed_at": _time.time(),
            "batch_id": None,
            "committed_batches": [],
            "key": key,
            "n_buckets": n_buckets,
            "schema_version": 1,
            "schemas": {"1": schema.json()},
            "manifest": [],
            # -1 = "nothing applied yet": the exactly-once fence is the
            # STRICT seq > last_applied_lsn, and LSN 0 is a valid event
            # sequence number — a floor of 0 would silently swallow it on a
            # fresh table (found by driving a seq=doc_id batch with id 0).
            # Valid LSNs are assumed ≥ 0; tables created before this change
            # persist a 0 floor and so assume LSNs ≥ 1.
            "lineage": {"last_applied_lsn": -1, "per_bucket": {}},
            "summary": {"operation": "create", "total_rows": 0},
        }
        cls._write_checkpoint(store, snap)
        cls._write_version(store, 0)
        return cls(spark, path, store=store)

    @classmethod
    def load(cls, spark: SparkSession, path: str, *, store: CommitStore | None = None) -> "IceboxTable":
        return cls(spark, path, store=store)

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", "VERSION"))

    # -------- metadata commit log (delta files + checkpoints) --------

    @staticmethod
    def _commit_name(sid: int) -> str:
        return f"commit-{sid}.json"

    @staticmethod
    def _checkpoint_name(sid: int) -> str:
        return f"checkpoint-{sid}.json"

    def _log_ids(self, kind: str) -> list[int]:
        out = []
        for n in self._store.list_names(f"{kind}-"):
            out.append(int(n.rsplit("-", 1)[1].split(".")[0]))
        return sorted(out)

    def _history_ids(self) -> list[int]:
        """All snapshot ids still materializable from the log."""
        return sorted(set(self._log_ids("commit")) | set(self._log_ids("checkpoint")))

    def _read_json(self, name: str) -> dict:
        return json.loads(self._store.get(name))

    @staticmethod
    def _apply_delta(snap: dict, delta: dict) -> dict:
        """Fold one commit delta onto a materialized snapshot. Removal is
        bucket-granular (a COW/compact commit replaces every prior entry of
        its touched buckets), which is what makes disjoint-bucket commits
        rebase-commutative."""
        if delta.get("operation") == "rollback":
            # whole-state restore: manifest, lineage, fence ids and bucket
            # layout all return to the target snapshot's values (the
            # un-done batches' ids must leave the fence so a replay is
            # not skipped); the schema-version MAP only grows, so older
            # readers of intermediate snapshots keep resolving
            r = delta["restore"]
            return {
                **snap,
                "snapshot_id": delta["snapshot_id"],
                "parent": delta["parent"],
                "committed_at": delta.get("committed_at"),
                "batch_id": None,
                "unordered_mode": r.get("unordered_mode", False),
                "committed_batches": r["committed_batches"],
                "manifest": r["manifest"],
                "lineage": r["lineage"],
                "schema_version": r["schema_version"],
                "schemas": snap["schemas"],
                "n_buckets": r["n_buckets"],
                "summary": delta.get("summary", snap.get("summary", {})),
            }
        removed = set(delta.get("removed_buckets", []))
        manifest = [e for e in snap["manifest"] if e["bucket"] not in removed]
        manifest.extend(delta.get("added", []))
        lin = snap["lineage"]
        dl = delta.get("lineage_delta")
        per = dict(lin["per_bucket"])
        last = int(lin["last_applied_lsn"])
        if dl and dl.get("replace"):
            # rebucket: old bucket ids are meaningless in the new layout —
            # per-bucket lineage is swapped wholesale (rebuilt from the
            # rewritten files' footer seq stats); the global fence carries
            per = {b: int(v) for b, v in dl["per_bucket"].items()}
            last = max(last, int(dl["last_applied_lsn"]))
        elif dl:
            for b, v in dl["per_bucket"].items():
                per[b] = max(int(per.get(b, 0)), int(v))
            last = max(last, int(dl["last_applied_lsn"]))
        batches = snap["committed_batches"]
        if delta.get("batch_id"):
            batches = (batches + [delta["batch_id"]])[-MAX_FENCE_IDS:]
        return {
            **snap,
            "snapshot_id": delta["snapshot_id"],
            "parent": delta["parent"],
            "committed_at": delta.get("committed_at"),
            "batch_id": delta.get("batch_id"),
            "unordered_mode": snap.get("unordered_mode", False)
            or delta.get("unordered", False),
            "committed_batches": batches,
            "manifest": manifest,
            "lineage": {"last_applied_lsn": last, "per_bucket": per},
            "schema_version": delta.get("schema_version", snap["schema_version"]),
            "schemas": {**snap["schemas"], **delta.get("schemas_added", {})},
            "n_buckets": delta.get("n_buckets", snap["n_buckets"]),
            "summary": delta.get("summary", snap.get("summary", {})),
        }

    def _materialize(self, upto: int) -> dict:
        """Snapshot state at id ``upto``: newest checkpoint ≤ upto + fold of
        the (≤ CHECKPOINT_EVERY) commit deltas after it."""
        ckpts = [c for c in self._log_ids("checkpoint") if c <= upto]
        if not ckpts:
            raise SnapshotExpiredError(
                f"snapshot {upto} not found (expired?); "
                f"available snapshots: {self._history_ids()}"
            )
        snap = self._read_json(self._checkpoint_name(ckpts[-1]))
        for sid in range(ckpts[-1] + 1, upto + 1):
            snap = self._apply_delta(snap, self._read_json(self._commit_name(sid)))
        return snap

    def _load_current(self) -> dict:
        ids = self._history_ids()
        if not ids:
            raise FileNotFoundError(f"no table metadata under {self._meta_dir}")
        return self._materialize(ids[-1])

    def refresh(self) -> dict:
        """Reload table state from the metadata log (pick up commits made
        by OTHER writers since this handle last read it)."""
        self._snap = self._load_current()
        return self._snap

    @staticmethod
    def _write_checkpoint(store: CommitStore, snap: dict) -> None:
        store.put(
            f"checkpoint-{snap['snapshot_id']}.json", json.dumps(snap).encode()
        )

    @staticmethod
    def _write_version(store: CommitStore, sid: int) -> None:
        # best-effort cache of the newest id (existence marker + hint);
        # the commit log itself is authoritative, so a stale VERSION after
        # a lost pointer race is harmless — which is exactly why a plain
        # last-write-wins put (object-store PutObject) suffices here
        store.put("VERSION", str(sid).encode())

    @staticmethod
    def _delta_conflicts(ours: dict, theirs: dict) -> bool:
        """True when two commit deltas do NOT commute. Bucket-granular:
        a commit that REMOVES a bucket's entries (COW merge / compact)
        conflicts with any other commit touching that bucket, because its
        rewrite was computed without the other's rows. Pure-append commits
        (MOR deltas) commute with each other even on the same bucket (read
        resolves LWW across the union). Concurrent schema changes
        serialize."""
        if ours.get("schemas_added") and theirs.get("schemas_added"):
            return True
        ar = set(ours.get("removed_buckets", []))
        br = set(theirs.get("removed_buckets", []))
        ab = {e["bucket"] for e in ours.get("added", [])}
        bb = {e["bucket"] for e in theirs.get("added", [])}
        return bool(ar & (br | bb)) or bool(br & ab)

    def _try_commit(self, delta: dict) -> dict | None:
        """Optimistically publish a commit delta.

        The atomic create of `commit-<id>.json` (CommitStore.put_if_absent:
        os.link on POSIX, conditional PUT on S3/GCS) is the CAS. Losing the
        race to a DISJOINT commit rebases: the delta is bucket-granular, so
        re-parenting it past the winner yields the same final state as a
        serial execution. Losing to an overlapping commit raises
        CommitConflictError (caller recomputes). Returns the new
        materialized snapshot, or None when an intervening commit already
        carries this delta's batch_id (concurrent duplicate driver:
        exactly-once, the re-commit is skipped).

        Checkpoint + VERSION writes after a won CAS are best-effort
        derivations of the log: a crash between the CAS and those writes
        leaves a fully-committed table (the next reader folds the commit
        file; the next commit at a checkpoint boundary re-derives it)."""
        import time as _time

        parent = delta["parent"]
        # Stale-handle guard: after expire_snapshots, commit names at or
        # below the retained checkpoint floor are FREED — a writer whose
        # parent predates the floor could otherwise re-win put_if_absent
        # on one and corrupt the fold order. Reject it up front (the
        # caller refreshes and recomputes). Checked once: the floor only
        # advances, and a concurrent advance past our target means the
        # expirer checkpointed a NEWER id, so our CAS on target fails
        # normally against that retained history.
        ckpts = self._log_ids("checkpoint")
        if ckpts and parent + 1 <= ckpts[0]:
            raise CommitConflictError(
                f"stale table handle: commit target {parent + 1} is at or "
                f"below the retained history floor {ckpts[0]} (expired) — "
                f"refresh() and recompute"
            )
        for _ in range(MAX_REBASES):
            target = parent + 1
            d = {
                **delta,
                "snapshot_id": target,
                "parent": parent,
                # wall-clock commit time: drives history() and as-of-
                # timestamp time travel; monotonicity is NOT assumed
                # anywhere (as_of picks by id order, ts is advisory)
                "committed_at": _time.time(),
            }
            payload = json.dumps(d).encode()
            if not self._store.put_if_absent(self._commit_name(target), payload):
                theirs = self._read_json(self._commit_name(target))
                if delta.get("batch_id") and theirs.get("batch_id") == delta["batch_id"]:
                    return None
                if self._delta_conflicts(delta, theirs):
                    raise CommitConflictError(
                        f"commit {target} lost to a conflicting writer "
                        f"(op={theirs.get('operation')}, overlapping buckets "
                        f"or schema change) — reload state and recompute"
                    )
                parent = target
                continue
            try:
                self._snap = self._materialize(target)
            except Exception:
                # The CAS landed but the commit cannot be folded (e.g. a
                # racing expiration deleted our parent chain). The write
                # is NOT acknowledged — retract the published file so it
                # doesn't persist as an orphan id that would poison
                # snapshots()/history() for every other reader.
                self._store.delete(self._commit_name(target))
                raise
            if target % CHECKPOINT_EVERY == 0:
                self._write_checkpoint(self._store, self._snap)
            self._write_version(self._store, target)
            return self._snap
        raise CommitConflictError(f"gave up after {MAX_REBASES} rebases")

    # ---------------- introspection ----------------

    @property
    def snapshot(self) -> dict:
        return self._snap

    @property
    def key(self) -> str:
        return self._snap["key"]

    @property
    def n_buckets(self) -> int:
        return self._snap["n_buckets"]

    @property
    def lineage(self) -> dict:
        return self._snap["lineage"]

    @property
    def schema(self) -> T.StructType:
        v = str(self._snap["schema_version"])
        return T.StructType.fromJson(json.loads(self._snap["schemas"][v]))

    def history(self) -> DataFrame:
        """Iceberg-style ``history`` metadata table: one row per retained
        snapshot (id, parent, commit time, operation, batch id, file/row/
        byte totals) — operator introspection without reading any data."""
        rows = []
        for s in self.snapshots():
            summary = s.get("summary", {})
            rows.append(
                (
                    s["snapshot_id"],
                    s.get("parent"),
                    float(s["committed_at"]) if s.get("committed_at") else None,
                    summary.get("operation"),
                    s.get("batch_id"),
                    len(s["manifest"]),
                    sum(e["rows"] for e in s["manifest"]),
                    sum(e.get("bytes", 0) for e in s["manifest"]),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id: long, parent: long, committed_at: double, "
            "operation: string, batch_id: string, n_files: long, "
            "total_rows: long, total_bytes: long",
        )

    def snapshot_as_of(self, ts: float) -> int:
        """Newest retained snapshot committed at or before wall-clock
        ``ts`` (epoch seconds). Raises SnapshotExpiredError when ts
        predates the retained history.

        Upgrade behavior: snapshots written before commit timestamps were
        recorded (no ``committed_at``) are treated as arbitrarily old —
        always eligible — so ``read(as_of=...)`` on an upgraded table
        resolves to the newest legacy snapshot rather than raising for
        timestamps at which retained history plainly existed."""
        best = None
        for s in self.snapshots():
            at = s.get("committed_at")
            if at is None or at <= ts:
                best = s["snapshot_id"]
        if best is None:
            raise SnapshotExpiredError(
                f"no retained snapshot at or before ts={ts}; "
                f"available snapshots: {self._history_ids()}"
            )
        return best

    def snapshots(self) -> list[dict]:
        """Materialized history, oldest→newest, by folding the commit log
        incrementally from the earliest retained checkpoint (one pass).

        Commit ids BELOW the earliest checkpoint are skipped: they cannot
        be folded (no base state) and can only be debris — e.g. a stale
        writer's retracted-then-crashed commit on a name freed by
        expiration. Skipping keeps history()/as-of/expire readable for
        everyone instead of crashing on the orphan."""
        out: list[dict] = []
        snap: dict | None = None
        ckpts = set(self._log_ids("checkpoint"))
        for sid in self._history_ids():
            if sid in ckpts:
                snap = self._read_json(self._checkpoint_name(sid))
            elif snap is None:
                continue  # orphan commit id below the checkpoint floor
            else:
                snap = self._apply_delta(snap, self._read_json(self._commit_name(sid)))
            out.append(snap)
        return out

    # ---------------- read ----------------

    def _schema_of(self, snap: dict, version: int) -> T.StructType:
        return T.StructType.fromJson(json.loads(snap["schemas"][str(version)]))

    def _read_manifest(self, snap: dict, entries: list[dict], *, with_seq: bool) -> DataFrame:
        """Read a manifest slice: group files by schema version, read each
        group with its own (frozen) schema, normalize forward, union."""
        current = self._schema_of(snap, snap["schema_version"])
        cur_v = snap["schema_version"]
        groups: dict[int, list[str]] = {}
        for e in entries:
            groups.setdefault(e["schema_v"], []).append(os.path.join(self.path, e["path"]))
        parts = []
        for v, files in groups.items():
            file_schema = (
                self._schema_of(snap, v)
                .add(SEQ_COL, T.LongType())
                .add(DELETED_COL, T.BooleanType())
            )
            df = self.spark.read.schema(file_schema).parquet(*files)
            parts.append(_normalize_to(df, current, evolved=(v != cur_v)))
        if not parts:
            empty = current.add(SEQ_COL, T.LongType()).add(DELETED_COL, T.BooleanType())
            return self.spark.createDataFrame([], empty)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out if with_seq else out.drop(SEQ_COL, DELETED_COL)

    def _resolve_lww(self, df: DataFrame) -> DataFrame:
        """Merge-on-read resolution: one winning row per key by max _seq
        (tombstone rows win and are filtered by the caller)."""
        return lww_dedup(df, key=self.key, seq=SEQ_COL)

    def _resolved(self, snap: dict, entries: list[dict], *, where=None) -> DataFrame:
        """Manifest slice → one winning row per key: read, (optionally)
        pre-filter, fold LWW if delta files are present. Tombstone rows
        remain for the caller to keep or drop — the shared tail of
        read / read_keys / read_changes."""
        df = self._read_manifest(snap, entries, with_seq=True)
        if where is not None:
            df = df.where(where)
        if any(e.get("kind") == "delta" for e in entries):
            df = self._resolve_lww(df)
        return df

    @staticmethod
    def _entry_may_match(e: dict, col: str, op: str, val) -> bool:
        """Can a file possibly hold a row matching ``col <op> val``, from
        its manifest [min, max]? Missing stats or uncomparable types →
        True (conservative, same fallback as key-range pruning)."""
        st = e.get("col_stats", {}).get(col)
        if st is None:
            return True
        lo, hi = st
        try:
            if op == "=":
                return lo <= val <= hi
            if op == "<":
                return lo < val
            if op == "<=":
                return lo <= val
            if op == ">":
                return hi > val
            if op == ">=":
                return hi >= val
            if op == "between":
                v1, v2 = val
                return not (hi < v1 or lo > v2)
            if op == "in":
                # a file may match an IN-list iff any listed value falls
                # inside its [min, max] — the shard-slice read pattern
                # (PackedTable repacks O(touched shards), not the corpus)
                return any(lo <= v <= hi for v in val)
        except TypeError:
            return True
        raise ValueError(f"unsupported filter op {op!r}")

    @classmethod
    def _prune_by_filters(
        cls, entries: list[dict], filters: list[tuple]
    ) -> list[dict]:
        """Manifest-level data skipping: drop entries whose column bounds
        prove no row can match ALL the filters. Bucket-aware safety: a
        bucket holding merge-on-read delta files is NEVER pruned — a
        delta row masks older base rows via LWW, so every file of such a
        bucket must be read for correct resolution (dropping the winner's
        file would resurrect a stale matching row)."""
        delta_buckets = {e["bucket"] for e in entries if e.get("kind") == "delta"}
        out = []
        for e in entries:
            if e["bucket"] in delta_buckets:
                out.append(e)
            elif all(cls._entry_may_match(e, c, op, v) for (c, op, v) in filters):
                out.append(e)
        return out

    @staticmethod
    def _filters_expr(filters: list[tuple]) -> F.Column:
        expr = F.lit(True)
        for c, op, v in filters:
            col = F.col(c)
            if op == "=":
                cond = col == F.lit(v)
            elif op == "<":
                cond = col < F.lit(v)
            elif op == "<=":
                cond = col <= F.lit(v)
            elif op == ">":
                cond = col > F.lit(v)
            elif op == ">=":
                cond = col >= F.lit(v)
            elif op == "between":
                cond = col.between(F.lit(v[0]), F.lit(v[1]))
            elif op == "in":
                cond = col.isin(list(v))
            else:
                raise ValueError(f"unsupported filter op {op!r}")
            expr = expr & cond
        return expr

    def read(
        self,
        snapshot_id: int | None = None,
        *,
        as_of: float | None = None,
        tag: str | None = None,
        with_seq: bool = False,
        include_tombstones: bool = False,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Current (or time-travel) table state as a DataFrame. Tables with
        delta files (merge-on-read commits) resolve LWW at read time.
        Time travel by ``snapshot_id``, by wall-clock ``as_of`` (epoch
        seconds — newest snapshot committed at or before it), or by named
        ``tag`` (stable as the table advances; expiration never drops a
        tagged snapshot).

        ``filters`` — simple conjunctive predicates
        ``[(col, op, value), ...]`` with op in
        {=, <, <=, >, >=, between, in}
        — enable MANIFEST-LEVEL data skipping: files whose recorded
        [min, max] for the column cannot match are dropped from the scan
        at plan time (the Iceberg column-metrics analog), and the same
        predicate is applied to the surviving rows (post-LWW, so
        merge-on-read buckets resolve before filtering). On a 100 TB
        table a selective range read launches tasks for O(matching
        files), not O(table) — row-group pushdown alone still opens
        every file's footer."""
        if sum(x is not None for x in (snapshot_id, as_of, tag)) > 1:
            raise ValueError("pass at most one of snapshot_id, as_of, tag")
        if tag is not None:
            refs = self.tags()
            if tag not in refs:
                raise KeyError(f"unknown tag {tag!r}; tags: {sorted(refs)}")
            snapshot_id = refs[tag]
        if as_of is not None:
            snapshot_id = self.snapshot_as_of(as_of)
        snap = self._snap
        if snapshot_id is not None:
            snap = self._snapshot_by_id(snapshot_id)
        entries = snap["manifest"]
        if filters:
            entries = self._prune_by_filters(entries, filters)
        out = self._resolved(snap, entries)
        if not include_tombstones:
            out = out.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if filters:
            # post-LWW row filter: for all-base buckets Catalyst pushes it
            # straight down to the parquet scan (no aggregation between)
            out = out.where(self._filters_expr(filters))
        return out if with_seq else out.drop(SEQ_COL, DELETED_COL)

    def _snapshot_by_id(self, snapshot_id: int) -> dict:
        if snapshot_id not in self._history_ids():
            raise SnapshotExpiredError(
                f"snapshot {snapshot_id} not found (expired?); "
                f"available snapshots: {self._history_ids()}"
            )
        return self._materialize(snapshot_id)

    def read_changes_between(
        self, from_ts: float, to_ts: float | None = None, *, mode: str = "net"
    ) -> DataFrame:
        """Timestamp form of ``read_changes``: changes between the table
        states as of two wall-clock instants (epoch seconds; ``to_ts``
        None = current). Resolution is by commit time via
        ``snapshot_as_of`` — the incremental-consumer analog of
        ``read(as_of=...)``."""
        return self.read_changes(
            self.snapshot_as_of(from_ts),
            None if to_ts is None else self.snapshot_as_of(to_ts),
            mode=mode,
        )

    def read_changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        *,
        mode: str = "net",
    ) -> DataFrame:
        """Incremental read (CDC out): the NET row-level changes between two
        snapshots. The engine thus both ingests a change log and can emit
        one for downstream consumers.

        ``mode="net"`` (default) emits ``(_change, payload..., _seq)`` with
        ``_change`` in {upsert, delete}. ``mode="cdf"`` emits a Delta-style
        change-data-feed with full pre/post images: ``_change_type`` in
        {insert, update_preimage, update_postimage, delete} — an updated key
        yields TWO rows (the old payload at its old _seq, the new payload at
        its new _seq), so downstream consumers can maintain aggregates
        incrementally (retract old, apply new) without re-reading the table.

        There is one diff: both modes run the same CDF full outer join on
        the key, and ``net`` is a projection of it — preimages dropped,
        ``delete`` rows kept as deletes (key and the last ``_seq`` visible
        at from_snapshot, payload NULL), every other row an ``upsert``.

        Cost is O(changed buckets): only buckets whose manifest file set
        differs between the snapshots are read and compared — an untouched
        100 TB tail contributes nothing. Compaction-only rewrites diff to
        empty, so consumers see logical changes, not file churn."""
        if mode not in ("net", "cdf"):
            raise ValueError(f"mode must be 'net' or 'cdf', got {mode!r}")
        old_snap = self._snapshot_by_id(from_snapshot_id)
        new_snap = (
            self._snap
            if to_snapshot_id is None
            else self._snapshot_by_id(to_snapshot_id)
        )
        old_by_bucket: dict[int, set] = {}
        for e in old_snap["manifest"]:
            old_by_bucket.setdefault(e["bucket"], set()).add(e["path"])
        new_by_bucket: dict[int, set] = {}
        for e in new_snap["manifest"]:
            new_by_bucket.setdefault(e["bucket"], set()).add(e["path"])
        changed = {
            b
            for b in set(old_by_bucket) | set(new_by_bucket)
            if old_by_bucket.get(b, set()) != new_by_bucket.get(b, set())
        }

        current = self._schema_of(new_snap, new_snap["schema_version"])
        payload_cols = [f.name for f in current.fields]

        def visible_state(snap: dict) -> DataFrame:
            entries = [e for e in snap["manifest"] if e["bucket"] in changed]
            df = self._resolved(snap, entries)
            df = df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            return _normalize_to(df, current, evolved=False).select(
                *payload_cols, SEQ_COL
            )

        cdf = self._cdf(visible_state(old_snap), visible_state(new_snap), payload_cols)
        return cdf if mode == "cdf" else net_of_cdf(cdf, self.key)

    def _cdf(
        self, old_state: DataFrame, new_state: DataFrame, payload_cols: list[str]
    ) -> DataFrame:
        """The one diff behind read_changes (both modes): one full outer
        join on the key, then each joined row emits 0-2 typed image structs
        (pre and/or post) which are compacted and exploded — a single pass,
        no re-scan of the join per change type."""
        key = self.key
        o = old_state.select(
            *[F.col(c).alias(f"_o_{c}") for c in payload_cols],
            F.col(SEQ_COL).alias("_old_seq"),
        )
        n = new_state.alias("n")
        joined = n.join(o, F.col(f"n.{key}") == F.col(f"_o_{key}"), "full_outer")
        new_here = F.col(f"n.{key}").isNotNull()
        old_here = F.col(f"_o_{key}").isNotNull()
        # a key counts as changed when its seq DIFFERS (not only advances:
        # a rollback restores the pre-update row at a LOWER seq, and that
        # reversal must reach change-feed consumers — the self-heal
        # contract) or, at an identical seq, when the payload differs (a
        # corrected re-publish)
        same_row = (F.col(f"n.{SEQ_COL}") == F.col("_old_seq")) & F.struct(
            *[F.col(f"n.{c}") for c in payload_cols]
        ).eqNullSafe(F.struct(*[F.col(f"_o_{c}") for c in payload_cols]))
        updated = new_here & old_here & ~same_row

        def img(change: str, prefix: str, seq_expr) -> F.Column:
            return F.struct(
                F.lit(change).alias("_change_type"),
                *[F.col(f"{prefix}{c}").alias(c) for c in payload_cols],
                seq_expr.alias(SEQ_COL),
            )

        pre = F.when(updated, img("update_preimage", "_o_", F.col("_old_seq"))).when(
            old_here & ~new_here, img("delete", "_o_", F.col("_old_seq"))
        )
        post = F.when(
            new_here & ~old_here, img("insert", "n.", F.col(f"n.{SEQ_COL}"))
        ).when(updated, img("update_postimage", "n.", F.col(f"n.{SEQ_COL}")))
        exploded = joined.select(
            F.explode(F.array_compact(F.array(pre, post))).alias("_img")
        )
        return exploded.select(
            F.col("_img._change_type").alias("_change_type"),
            *[F.col(f"_img.{c}").alias(c) for c in payload_cols],
            F.col(f"_img.{SEQ_COL}").alias(SEQ_COL),
        )

    @staticmethod
    def _entries_for_keys(entries: list[dict], keys: list) -> list[dict]:
        """File-level range pruning for point lookups: drop manifest entries
        whose footer [key_min, key_max] cannot contain any requested key.
        Entries without recorded bounds are kept (conservative). With
        key-sorted data files (compact/rebucket cluster by key) a bucket
        holding many MOR delta files serves a point lookup from the one or
        two files whose range actually covers the key."""
        out = []
        for e in entries:
            if "key_min" not in e or "key_max" not in e:
                out.append(e)
                continue
            try:
                hit = any(e["key_min"] <= k <= e["key_max"] for k in keys)
            except TypeError:
                # caller-supplied key type not comparable with the
                # JSON-restored bounds (e.g. int key vs string bounds):
                # degrade to no pruning, same fallback as missing stats
                hit = True
            if hit:
                out.append(e)
        return out

    def _bloom_prune(self, entries: list[dict], keys: list) -> list[dict]:
        """Second point-lookup pruning stage, after bucket + range pruning:
        drop entries whose key bloom sidecar (bloom.py) rules out every
        requested key. This is what actually skips MOR delta stacks —
        hash-scattered delta files all pass the RANGE check but only the
        one or two holding the key pass the bloom. Entries without a
        sidecar (legacy manifests, bloom_keys=False writers) or whose
        sidecar is missing/corrupt are kept — blooms only ever skip work,
        never rows."""
        from . import bloom as _bloom

        out = []
        for e in entries:
            rel = e.get("bloom")
            if not rel:
                out.append(e)
                continue
            bf = self._bloom_cache.get(rel)
            if bf is None:
                bf = _bloom.load(os.path.join(self.path, rel))
                if bf is None:
                    out.append(e)  # degraded sidecar: keep, don't cache
                    continue
                self._bloom_cache[rel] = bf
            if any(_bloom.might_contain(bf, k) for k in keys):
                out.append(e)
        return out

    def read_keys(self, keys: list, *, with_seq: bool = False) -> DataFrame:
        """Point lookups with manifest-level bucket pruning: hash the
        requested keys driver-side (same function as the write layout), read
        ONLY the manifest entries of those buckets — further pruned by each
        file's footer key range — resolve LWW, and filter. On a 100 TB
        table a k-key lookup touches k buckets' covering files, not the
        table. The in-bucket filter also reaches the parquet scan as a
        pushed predicate."""
        snap = self._snap
        nb = self.n_buckets
        # bucket ids driver-side with the pure-Python murmur3 replica of
        # bucket_expr (zero Spark jobs — property-tested equal); keys the
        # replica cannot hash fall back to evaluating the same Catalyst
        # expression on a one-row-per-key local DataFrame
        dt = self.schema[self.key].dataType
        mapped = [bucket_of(k, nb, dt) for k in keys]
        buckets = {b for b in mapped if b is not None}
        unmapped = [k for k, b in zip(keys, mapped) if b is None]
        if unmapped:
            kdf = self.spark.createDataFrame(
                [(k,) for k in unmapped], f"{self.key}: {dt.simpleString()}"
            )
            buckets |= {
                int(r["b"])
                for r in kdf.select(bucket_expr(self.key, nb).alias("b")).collect()
            }
        entries = self._bloom_prune(
            self._entries_for_keys(
                [e for e in snap["manifest"] if e["bucket"] in buckets], keys
            ),
            keys,
        )
        out = self._resolved(snap, entries, where=F.col(self.key).isin(list(keys)))
        out = out.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return out if with_seq else out.drop(SEQ_COL, DELETED_COL)

    # ---------------- schema evolution ----------------

    def update_schema(self, new_schema: T.StructType) -> None:
        """Metadata-only schema commit. Old data files stay untouched;
        reads normalize them forward. Concurrent schema changes
        serialize: on conflict the loser reloads and re-applies
        (idempotent when the other writer made the same change).

        The table enforces the one evolution rule, so callers rely on it
        rather than re-checking: every existing column stays, and each
        one's new type is what ``schema_infer._widened(old, new)`` returns
        (the same type, or a widening listed in ``_WIDEN_OK``); columns
        may be added. Anything else raises ``ValueError`` naming the
        column ("not a widening"). The key column's type is fixed:
        ``bucket_expr`` hashes the key's physical type (an int and a
        bigint of equal value land in different buckets), so widening it
        would split each key across two buckets."""
        old_key = self.schema[self.key].dataType
        if self.key not in new_schema.fieldNames() or new_schema[self.key].dataType != old_key:
            raise ValueError(
                f"the key column {self.key!r} ({old_key.simpleString()}) cannot "
                "change type or be dropped: buckets hash its physical type"
            )
        for _ in range(3):
            snap = self._snap
            if new_schema.json() == self.schema.json():
                return
            # checked against the schema this attempt commits over, so a
            # re-apply after a lost race cannot undo the winner's widening
            for f in self.schema.fields:
                new = new_schema[f.name].dataType if f.name in new_schema.names else None
                w = None if new is None else _widened(f.dataType, new)
                if w is None or w.simpleString() != new.simpleString():
                    raise ValueError(
                        f"schema change for column {f.name!r} is not a widening: "
                        f"{f.dataType.simpleString()} -> "
                        f"{'dropped' if new is None else new.simpleString()}"
                    )
            v = snap["schema_version"] + 1
            delta = {
                "operation": "update-schema",
                "parent": snap["snapshot_id"],
                "snapshot_id": snap["snapshot_id"] + 1,
                "batch_id": None,
                "schema_version": v,
                "schemas_added": {str(v): new_schema.json()},
                "summary": {"operation": "update-schema", "to_version": v},
            }
            try:
                self._try_commit(delta)
                return
            except CommitConflictError:
                self.refresh()
        raise CommitConflictError("update_schema kept losing to concurrent schema changes")

    # ---------------- incremental-consumer registry ----------------
    #
    # The registry uses the SAME create-if-absent CAS discipline as the
    # commit log, as its own versioned-file chain `consumers-<v>.json`:
    # a mutation reads the newest version, applies its change, and
    # publishes v+1 with put_if_absent — a loser re-reads the winner's
    # state and retries, so two consumers registering concurrently BOTH
    # survive (the r3 read-modify-replace could lose one registration,
    # whose from-snapshot then became expirable). Superseded versions are
    # garbage-collected after a successful publish; a reader that races
    # the GC (its listed version deleted under it) simply re-lists.

    def _registry_versions(self, prefix: str) -> list[int]:
        return sorted(
            int(n.rsplit("-", 1)[1].split(".")[0])
            for n in self._store.list_names(f"{prefix}-")
        )

    def _consumer_versions(self) -> list[int]:
        return self._registry_versions("consumers")

    def _read_registry(self, prefix: str) -> dict[str, int]:
        """Newest version of a CAS'd name→snapshot registry (consumers,
        tags). Re-lists on a lost race with GC of superseded versions."""
        for _ in range(8):
            vs = self._registry_versions(prefix)
            if not vs:
                return {}
            try:
                regs = self._read_json(f"{prefix}-{vs[-1]}.json")
            except FileNotFoundError:
                continue  # lost a race with GC of superseded versions
            return {k: int(v) for k, v in regs.items()}
        raise CommitConflictError(f"{prefix} registry kept changing under reads")

    def consumers(self) -> dict[str, int]:
        """Registered incremental readers: name → the from-snapshot they
        still need. ``expire_snapshots`` never drops a registered snapshot."""
        return self._read_registry("consumers")

    def _mutate_registry(self, prefix: str, mutate) -> dict[str, int]:
        """CAS loop: publish mutate(current) as the next registry version.
        Concurrent mutations serialize — none is ever lost. Shared by the
        consumer registry and the tag registry (same versioned-file chain
        discipline, different prefix).

        ABA guard: GC of superseded ``<prefix>-<v>.json`` files re-opens
        those names, so a stalled mutator can win ``put_if_absent`` on a
        version BELOW the current newest — readers (which take the max
        version) would never see its mutation. After every winning publish
        we therefore re-list and require the published version to still be
        the maximum; a publish that is not the max is retracted (deleted)
        and the mutation retried against the real newest. The max version
        is monotonic (GC only ever deletes below it), so a verified-max
        publish can never be shadowed later."""
        for _ in range(MAX_REBASES):
            vs = self._registry_versions(prefix)
            if vs:
                try:
                    cur = {
                        k: int(v)
                        for k, v in self._read_json(f"{prefix}-{vs[-1]}.json").items()
                    }
                except FileNotFoundError:
                    continue  # raced GC; re-list
            else:
                cur = {}
            new = mutate(dict(cur))
            nxt = (vs[-1] if vs else 0) + 1
            if self._store.put_if_absent(
                f"{prefix}-{nxt}.json", json.dumps(new).encode()
            ):
                newest = self._registry_versions(prefix)[-1]
                if newest != nxt:
                    # won a freed (GC'd) name below the live head: invisible
                    # to readers — retract and retry on the real newest
                    self._store.delete(f"{prefix}-{nxt}.json")
                    continue
                for v in vs:  # deferred GC (idempotent deletes)
                    if v <= nxt - CONSUMER_GC_LAG:
                        self._store.delete(f"{prefix}-{v}.json")
                return new
        raise CommitConflictError(
            f"{prefix}-registry CAS kept losing after {MAX_REBASES} attempts"
        )

    def _mutate_consumers(self, mutate) -> dict[str, int]:
        return self._mutate_registry("consumers", mutate)

    def register_consumer(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a from-snapshot for an incremental (read_changes) consumer.
        Defaults to the current snapshot. Call ``advance_consumer`` after
        processing a change set so expiration can reclaim history."""
        sid = self._snap["snapshot_id"] if snapshot_id is None else int(snapshot_id)
        if sid not in self._history_ids():
            raise SnapshotExpiredError(
                f"cannot register consumer {name!r} at expired snapshot {sid}; "
                f"available snapshots: {self._history_ids()}"
            )
        self._mutate_consumers(lambda regs: {**regs, name: sid})
        return sid

    def advance_consumer(self, name: str, snapshot_id: int) -> None:
        self._mutate_consumers(
            lambda regs: {**regs, name: max(int(snapshot_id), regs.get(name, 0))}
        )

    def deregister_consumer(self, name: str) -> None:
        self._mutate_consumers(
            lambda regs: {k: v for k, v in regs.items() if k != name}
        )

    # ---------------- named tags (retention roots) ----------------

    def tags(self) -> dict[str, int]:
        """Named snapshot refs: tag name → snapshot id. A tagged snapshot
        (and the history needed to materialize it) is never expired —
        tags are retention roots, the Iceberg ``create_tag`` analog for
        audit pins ("the table as of the Q3 training run")."""
        return self._read_registry("tags")

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a snapshot (default: current). Fails if the tag exists with
        a DIFFERENT target (re-tagging the same snapshot is an idempotent
        no-op — safe under driver retry); use ``delete_tag`` first to
        move a tag deliberately."""
        sid = self._snap["snapshot_id"] if snapshot_id is None else int(snapshot_id)
        if sid not in self._history_ids():
            raise SnapshotExpiredError(
                f"cannot tag expired snapshot {sid}; "
                f"available snapshots: {self._history_ids()}"
            )

        def mut(regs: dict) -> dict:
            if name in regs and int(regs[name]) != sid:
                raise ValueError(
                    f"tag {name!r} already points at snapshot {regs[name]} "
                    f"(delete_tag first to retarget)"
                )
            return {**regs, name: sid}

        self._mutate_registry("tags", mut)
        return sid

    def delete_tag(self, name: str) -> None:
        self._mutate_registry(
            "tags", lambda regs: {k: v for k, v in regs.items() if k != name}
        )

    def describe(self) -> dict:
        """Operator health snapshot, all from metadata (zero Spark jobs):
        layout (buckets, files by kind, rows/bytes, read-amplification
        ratio), retention (snapshots held, oldest pin), and per-consumer
        lag in snapshots — the first things an on-call looks at on a
        100 TB table before deciding to compact, rebucket, or expire."""
        self.refresh()
        snap = self._snap
        entries = snap["manifest"]
        n_delta = sum(1 for e in entries if e.get("kind") == "delta")
        by_bucket: dict[int, int] = {}
        for e in entries:
            by_bucket[e["bucket"]] = by_bucket.get(e["bucket"], 0) + 1
        sid = snap["snapshot_id"]
        held = self._history_ids()
        regs = self.consumers()
        return {
            "snapshot_id": sid,
            "n_buckets": snap.get("n_buckets"),
            "files": len(entries),
            "delta_files": n_delta,
            "base_files": len(entries) - n_delta,
            # worst per-bucket file count — the read-amplification number
            # compaction exists to bound
            "max_files_per_bucket": max(by_bucket.values(), default=0),
            # PHYSICAL rows (delta rows not yet LWW-resolved count too) —
            # logical row count would need a scan, and the physical/
            # logical gap is itself the compaction-debt signal
            "rows": sum(e["rows"] for e in entries),
            "bytes": sum(e.get("bytes", 0) for e in entries),
            "snapshots_held": len(held),
            "oldest_snapshot": min(held, default=sid),
            # snapshots each incremental reader still has to fold; a
            # growing lag pins old snapshots against expiration
            "consumer_lag": {name: sid - pin for name, pin in regs.items()},
            "tags": self.tags(),
        }

    def fsck(self, *, deep: bool = False) -> dict:
        """Integrity audit of both planes — the metadata fold and the data
        files it references — entirely driver-side (parquet footer reads,
        threaded; no Spark job). The on-call tool for "is this table
        actually readable" after an incident at 100 TB, where a full scan
        is not an option but O(files) footer reads are.

        Checks:
          * metadata: every retained snapshot folds cleanly; staged
            (write-audit-publish) deltas parse.
          * manifest → data, current snapshot (every retained snapshot
            with ``deep=True``): file exists, on-disk size equals the
            manifest's ``bytes``, footer row count equals ``rows``, and
            the footer key range equals the manifest's
            ``key_min``/``key_max`` (a mismatch means point-lookup
            pruning would silently skip live keys — the worst failure
            class, data-dependent and invisible to row counts).
          * bloom sidecars: a referenced-but-missing sidecar is a
            WARNING (reads degrade to keep-the-file; correctness holds).
          * orphans: data files referenced by no retained snapshot and
            no staged delta are counted as warnings, never deleted here
            (``expire_snapshots(sweep_orphans=True)`` owns deletion).

        Returns ``{"ok", "errors", "warnings", "files_checked",
        "orphans"}`` — ``ok`` is False only for errors."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        errors: list[str] = []
        warnings: list[str] = []
        self.refresh()
        try:
            snaps = self.snapshots()
        except Exception as exc:
            return {"ok": False, "errors": [f"metadata fold failed: {exc}"],
                    "warnings": [], "files_checked": 0, "orphans": 0}
        try:
            staged = self.staged()
        except Exception as exc:
            staged = {}
            errors.append(f"staged-delta parse failed: {exc}")

        audit_snaps = snaps if deep else [self._snap]
        by_path: dict[str, dict] = {}
        for s in audit_snaps:
            for e in s["manifest"]:
                by_path.setdefault(e["path"], e)

        def check(item) -> list[str]:
            rel, e = item
            probs = []
            fpath = os.path.join(self.path, rel)
            if not os.path.exists(fpath):
                return [f"missing data file: {rel}"]
            size = os.path.getsize(fpath)
            if "bytes" in e and size != e["bytes"]:
                probs.append(
                    f"size mismatch {rel}: manifest {e['bytes']} vs disk {size}"
                )
            try:
                md = pq.ParquetFile(fpath).metadata
            except Exception as exc:
                return probs + [f"unreadable parquet footer {rel}: {exc}"]
            if md.num_rows != e["rows"]:
                probs.append(
                    f"row-count mismatch {rel}: manifest {e['rows']} vs "
                    f"footer {md.num_rows}"
                )
            kr = self._col_min_max(md, self.key)
            if kr is not None and "key_min" in e and list(kr) != [
                e["key_min"], e["key_max"]
            ]:
                probs.append(
                    f"key-range mismatch {rel}: manifest "
                    f"[{e['key_min']}, {e['key_max']}] vs footer {list(kr)}"
                )
            return probs

        with ThreadPoolExecutor(max_workers=16) as ex:
            for probs in ex.map(check, by_path.items()):
                errors.extend(probs)
        for rel, e in by_path.items():
            if e.get("bloom") and not os.path.exists(
                os.path.join(self.path, e["bloom"])
            ):
                warnings.append(f"missing bloom sidecar (degraded): {e['bloom']}")

        orphans = len(self._orphans(snaps, staged)[1]())
        if orphans:
            warnings.append(
                f"{orphans} unreferenced data file(s) on disk — debris from "
                f"crashed/lost writers; expire_snapshots(sweep_orphans=True) "
                f"removes them after the grace window"
            )
        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "files_checked": len(by_path),
            "orphans": orphans,
        }

    def _orphans(self, snaps: list, staged: dict) -> tuple:
        """``(live, orphans)``: the data paths (relative to the table) that
        a snapshot in ``snaps`` or a staged write-audit-publish delta
        references, and a function listing the data files on disk
        (absolute paths) that none of them references — the one orphan
        definition, counted by ``fsck`` and deleted by
        ``expire_snapshots(sweep_orphans=True)``. Staged-but-unpublished
        deltas reference files no snapshot knows about yet: they are
        metadata-referenced, not orphans, regardless of age (audits may
        outlive any grace window)."""
        live = {e["path"] for s in snaps for e in s["manifest"]}
        live |= {
            e["path"] for info in staged.values()
            for e in info["delta"].get("added", [])
        }
        return live, lambda: [
            f for f in glob.glob(
                os.path.join(self.path, "data", "c*", "**", "*.parquet"), recursive=True
            )
            if os.path.relpath(f, self.path) not in live
        ]

    def expire_snapshots(
        self,
        *,
        keep_last: int = 5,
        sweep_orphans: bool = False,
        orphan_grace_sec: float = 259_200.0,
    ) -> dict:
        """Iceberg-style snapshot expiration: drop all but the newest
        ``keep_last`` snapshots and delete data files referenced ONLY by
        the dropped ones. Time travel remains available within the kept
        window; the current snapshot is never dropped, and the window is
        CLAMPED so no registered incremental consumer's from-snapshot and
        no TAGGED snapshot is expired (a lagging read_changes reader
        cannot be broken by maintenance — it gets a typed
        SnapshotExpiredError only if it never registered; a tag pins its
        snapshot until ``delete_tag``).

        Metadata-wise this writes a full checkpoint at the new history
        floor, then deletes the older commit/checkpoint files — the fold
        in ``snapshots()``/``_materialize`` always starts at a checkpoint.

        ``sweep_orphans=True`` additionally removes data files referenced
        by NO kept snapshot at all — debris from merges that wrote files
        but crashed before committing (or lost a commit conflict). Only
        unreferenced files OLDER than ``orphan_grace_sec`` (mtime) are
        eligible. PRECONDITION for running this concurrently with writers:
        the grace window must exceed the worst-case write→commit latency
        of any in-flight merge/compaction INCLUDING conflict retries (a
        retried merge rewrites files, restarting their mtime clock, but a
        long-stalled attempt's first files keep aging). The default is 3
        days (Iceberg's orphan-file default) — hours-long commit latency
        at 100 TB stays far inside it. Shorten it only when you can bound
        commit latency, and set ``orphan_grace_sec=0`` only inside an
        exclusive maintenance window."""
        snaps = self.snapshots()
        orphans = 0
        clamped = clamped_tags = False
        if len(snaps) <= keep_last:
            kept, dropped = snaps, []
        else:
            kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        # retention roots: registered consumers' from-snapshots AND named
        # tags — the window only ever widens (floor = the oldest pin)
        for pins, flag in ((self.consumers(), "consumers"), (self.tags(), "tags")):
            if pins and dropped:
                floor = min(pins.values())
                keep_ids = {s["snapshot_id"] for s in kept}
                if floor not in keep_ids and any(
                    s["snapshot_id"] == floor for s in dropped
                ):
                    if flag == "consumers":
                        clamped = True
                    else:
                        clamped_tags = True
                    kept = [s for s in snaps if s["snapshot_id"] >= floor]
                    dropped = [s for s in snaps if s["snapshot_id"] < floor]
        live, orphan_files = self._orphans(kept, self.staged())
        dead = {e["path"] for s in dropped for e in s["manifest"]} - live
        for rel in dead:
            for p in (os.path.join(self.path, rel),
                      os.path.join(self.path, rel) + ".bloom"):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        if dropped:
            # new history floor must be a checkpoint for the fold to start at
            self._write_checkpoint(self._store, kept[0])
            floor_id = kept[0]["snapshot_id"]
            for s in dropped:
                sid = s["snapshot_id"]
                self._store.delete(self._commit_name(sid))
                self._store.delete(self._checkpoint_name(sid))
            # the floor's delta file is superseded by its checkpoint
            self._store.delete(self._commit_name(floor_id))
        if sweep_orphans:
            import time as _time

            # metadata-plane staging debris (crashed writers' .tmp- files)
            # is swept with the same age gate, where the store has any
            if hasattr(self._store, "sweep_debris"):
                orphans += self._store.sweep_debris(orphan_grace_sec)
            now = _time.time()
            for fpath in orphan_files():
                try:
                    # age gate: a file younger than the grace window may be
                    # an in-flight merge's uncommitted output — skip it
                    if now - os.path.getmtime(fpath) < orphan_grace_sec:
                        continue
                    os.remove(fpath)
                    orphans += 1
                except FileNotFoundError:
                    pass
            # a bloom sidecar is referenced iff its data file is: sweep the
            # ones whose .parquet is not live (same age gate; a live bloom
            # is never older than its just-written data file by more than
            # the write itself)
            for bpath in glob.glob(os.path.join(self.path, "data", "c*", "**",
                                                "*.parquet.bloom"), recursive=True):
                if os.path.relpath(bpath[: -len(".bloom")], self.path) in live:
                    continue
                try:
                    if now - os.path.getmtime(bpath) < orphan_grace_sec:
                        continue
                    os.remove(bpath)
                    orphans += 1
                except FileNotFoundError:
                    pass
            for d in glob.glob(os.path.join(self.path, "data", "c*", "_bucket=*")):
                if not os.listdir(d):
                    os.rmdir(d)
            for d in glob.glob(os.path.join(self.path, "data", "c*")):
                entries = [p for p in os.listdir(d) if not p.startswith("_SUCCESS")]
                if not entries:
                    import shutil

                    shutil.rmtree(d, ignore_errors=True)
        return {
            "expired_snapshots": len(dropped),
            "deleted_files": len(dead),
            "orphan_files_swept": orphans,
            "clamped_by_consumers": clamped,
            "clamped_by_tags": clamped_tags,
        }

    @staticmethod
    def _has_tombstones(md) -> bool:
        """True if the file can contain _deleted=True rows, from the footer
        column statistics already in hand (no data read). Missing stats →
        conservatively True."""
        col_idx = next(
            (j for j in range(md.num_columns)
             if md.schema.column(j).name == DELETED_COL),
            None,
        )
        if col_idx is None:
            return False  # no _deleted column at all
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col_idx).statistics
            if st is None or not st.has_min_max:
                return True
            if st.max:
                return True
        return False

    @staticmethod
    def _col_min_max(md, name: str):
        """(min, max) of a column across row groups from footer statistics,
        or None when any row group lacks valid min/max (then the file must
        be treated as covering the full domain). Long string bounds are
        skipped: parquet writers may omit or truncate oversized statistics,
        and a truncated max is a PREFIX of the true max — it compares LOW,
        which would make range pruning drop live files."""
        col_idx = next(
            (j for j in range(md.num_columns) if md.schema.column(j).name == name),
            None,
        )
        if col_idx is None:
            return None
        lo = hi = None
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col_idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = st.min, st.max
            # manifest entries are JSON: only record JSON-native bounds
            # (datetime/bytes keys would need encoding — skip, stay safe)
            if not isinstance(mn, (str, int, float)) or not isinstance(
                mx, (str, int, float)
            ):
                return None
            if isinstance(mn, str) and (len(mn) > 64 or len(mx) > 64):
                return None
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        return None if lo is None else (lo, hi)

    def _write_buckets(
        self, df: DataFrame, snap: dict, *, sort_by: F.Column | None = None,
        max_file_rows: int | None = None, kind: str | None = None,
        phase_t: dict | None = None, since: float = 0.0,
    ) -> tuple[list[dict], int]:
        """The one bucket writer of merge, compact and rebucket; returns
        the new manifest entries and their row count. ``df`` carries
        ``_bucket`` and is hash-partitioned on the key to its bucket
        layout, so each task writes whole buckets. Rows are sorted by
        ``sort_by`` within each bucket when given and split into files of
        at most ``max_file_rows`` rows. With ``phase_t``, records
        ``write_sec`` (since ``since``) and ``footer_sec``.

        Registration reads the parquet footers concurrently (driver-side
        serial cost otherwise). Each entry records whether the file holds
        tombstone rows (so compaction can skip tombstone-free buckets),
        the key's min/max (file-level range pruning for point lookups) and
        the max _seq (so maintenance operations can rebuild per-bucket
        lineage) — all from footer stats already in hand, no extra data
        IO. ``kind="delta"`` marks merge-on-read files."""
        import time as _time
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        if sort_by is not None:
            df = df.sortWithinPartitions("_bucket", sort_by)
        writer = df.write.partitionBy("_bucket").mode("overwrite")
        if max_file_rows is not None:
            # task output is written in sorted order, so each split file
            # covers a contiguous sort-column range → discriminating stats
            writer = writer.option("maxRecordsPerFile", max_file_rows)
        # writer-unique commit dir: concurrent writers (or a retried
        # attempt after a lost commit race) can never clobber each other's
        # committed data files; losers leave orphan dirs for sweep
        commit_dir = f"data/c{snap['snapshot_id'] + 1}-{uuid.uuid4().hex[:8]}"
        out_path = os.path.join(self.path, commit_dir)
        writer.parquet(out_path)
        t_written = _time.time()
        paths = glob.glob(os.path.join(out_path, "_bucket=*", "*.parquet"))
        key, schema_v = self.key, snap["schema_version"]
        # per-column bounds for general data skipping (the Iceberg
        # "column metrics" analog): every primitive payload column whose
        # footer stats are JSON-safe gets [min, max] in the manifest, so a
        # pushed range predicate on e.g. n_tok/source prunes whole files
        # at PLAN time — before any scan task launches. Cost ≈ 0: the
        # footers are already being parsed for tombstone/key/seq stats.
        stat_cols = [
            f.name
            for f in self.schema.fields
            if f.name != key
            and not isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
            )
        ]

        def entry(fpath: str) -> dict:
            pf = pq.ParquetFile(fpath)
            md = pf.metadata
            e = {
                "path": os.path.relpath(fpath, self.path),
                "bucket": int(fpath.split("_bucket=")[1].split(os.sep)[0]),
                "schema_v": schema_v,
                "rows": md.num_rows,
                "bytes": os.path.getsize(fpath),
                "tombstones": self._has_tombstones(md),
            }
            kr = self._col_min_max(md, key)
            if kr is not None:
                e["key_min"], e["key_max"] = kr
            sr = self._col_min_max(md, SEQ_COL)
            if sr is not None:
                e["seq_max"] = sr[1]
            if self.bloom_keys and kind == "delta":
                # per-file key bloom sidecar (see bloom.py), DELTA FILES
                # ONLY: blooms discriminate between the stacked delta
                # files of a MOR bucket (whose key ranges all span the
                # bucket); a COW/compacted bucket resolves to one file
                # after bucket+range pruning, so a sidecar there buys
                # nothing while costing a driver-side md5 pass over the
                # ENTIRE rewritten bucket on every merge — O(table) per
                # batch, the dominant replay driver cost before r6.
                # Delta sidecars are O(batch): one extra read of the key
                # COLUMN of the (small) delta file just produced,
                # driver-threaded with the footer parsing, never a Spark
                # job.
                from . import bloom as _bloom

                kcol = pf.read(columns=[key]).column(key).to_pylist()
                _bloom.write_sidecar(fpath, _bloom.build(kcol, md.num_rows))
                e["bloom"] = e["path"] + ".bloom"
            cs = {}
            for c in stat_cols:
                r = self._col_min_max(md, c)
                if r is not None:
                    cs[c] = [r[0], r[1]]
            if cs:
                e["col_stats"] = cs
            if kind:
                e["kind"] = kind
            return e

        with ThreadPoolExecutor(max_workers=16) as ex:
            files = list(ex.map(entry, paths))
        if phase_t is not None:
            phase_t["write_sec"] = round(t_written - since, 3)
            phase_t["footer_sec"] = round(_time.time() - t_written, 3)
        return files, sum(e["rows"] for e in files)

    def _retrying(self, conflict_retries: int, once, *args, **kwargs) -> dict:
        """The optimistic-commit loop of merge, compact and rebucket: run
        ``once`` against the loaded snapshot; after a lost commit race,
        reload the table state and recompute, up to ``conflict_retries``
        times, then re-raise the last ``CommitConflictError``."""
        last_err: CommitConflictError | None = None
        for attempt in range(conflict_retries + 1):
            if attempt:
                self.refresh()
            try:
                return once(*args, **kwargs)
            except CommitConflictError as exc:
                last_err = exc
        raise last_err

    def _folded(
        self, snap: dict, entries: list[dict], n_buckets: int, *, drop_tombstones: bool
    ) -> DataFrame:
        """compact's and rebucket's rewrite input: the manifest slice
        resolved to one row per key (merge-on-read deltas folded into
        their base), tombstones dropped when ``drop_tombstones``, tagged
        with its ``_bucket`` under ``n_buckets``."""
        df = self._resolved(snap, entries)
        if drop_tombstones:
            df = df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return df.withColumn("_bucket", bucket_expr(self.key, n_buckets))

    # ---------------- maintenance ----------------

    def compact(
        self,
        *,
        drop_tombstones: bool | None = None,
        max_buckets: int | None = None,
        cluster_by: str | list | None = None,
        max_file_rows: int | None = None,
        conflict_retries: int = 3,
    ) -> dict:
        """Rewrite every bucket that has >1 file (or tombstones) into one
        file. Metadata-only snapshot if nothing needs work. Long-running
        CDC tables accumulate one file set per commit; compaction bounds
        read amplification.

        ``max_buckets`` bounds the WORK of one maintenance cycle: only the
        worst ``max_buckets`` buckets (most files first — highest read
        amplification) are folded, so at 100 TB compaction runs as many
        small incremental commits interleaved with ingest instead of one
        full-table pass; repeated calls converge (each returns
        ``remaining_buckets`` still needing work).

        Tombstones are dropped by default ONLY for tables fed by fenced
        (ordered) delivery: under unordered delivery a late lower-seq
        update could resurrect a row whose tombstone was dropped, so such
        tables keep tombstones unless explicitly overridden.

        ``cluster_by`` + ``max_file_rows`` are the Iceberg sort-order
        analog: rows are sorted by ``cluster_by`` (default: the key)
        within each bucket and split into files of at most
        ``max_file_rows`` rows — each split file then covers a CONTIGUOUS
        range of the sort column, so its manifest ``col_stats`` become
        discriminating and a ``read(filters=...)`` range read on that
        column skips the bucket's non-covering files at plan time. A
        100 TB bucket holds many files; which column they're clustered by
        decides whether point lookups (key) or range scans (e.g. a time
        column) get file-level skipping — a per-table tuning choice.

        Safe to run CONCURRENTLY with merges: the commit is optimistic —
        if a merge touches one of the buckets being folded first, this
        compaction loses the race, reloads the new state and recomputes
        (up to ``conflict_retries`` times); the merge is never lost."""
        return self._retrying(
            conflict_retries, self._compact_once,
            drop_tombstones=drop_tombstones, max_buckets=max_buckets,
            cluster_by=cluster_by, max_file_rows=max_file_rows,
        )

    def _compact_once(
        self,
        *,
        drop_tombstones: bool | None,
        max_buckets: int | None = None,
        cluster_by: str | list | None = None,
        max_file_rows: int | None = None,
    ) -> dict:
        snap = self._snap
        if drop_tombstones is None:
            drop_tombstones = not snap.get("unordered_mode", False)
        by_bucket: dict[int, list[dict]] = {}
        for e in snap["manifest"]:
            by_bucket.setdefault(e["bucket"], []).append(e)
        if cluster_by is not None or max_file_rows is not None:
            # explicit re-cluster/re-split request: every bucket's layout
            # is being changed, so all of them need the rewrite
            todo = sorted(by_bucket)
        else:
            todo = sorted(
                b
                for b, es in by_bucket.items()
                if len(es) > 1
                or any(e["schema_v"] != snap["schema_version"] for e in es)
                or any(e.get("kind") == "delta" for e in es)
            )
        if drop_tombstones:
            # only buckets that can actually hold tombstone rows (per-entry
            # footer-stats flag; entries from legacy manifests without the
            # flag are treated conservatively) — a tombstone-free table
            # compacts in O(multi-file buckets), not O(table)
            todo = sorted(
                set(todo)
                | {
                    b
                    for b, es in by_bucket.items()
                    if any(e.get("tombstones", True) for e in es)
                }
            )
        deferred = 0
        if max_buckets is not None and len(todo) > max_buckets:
            # worst-first: fold the buckets with the deepest file stacks
            deferred = len(todo) - max_buckets
            worst = sorted(todo, key=lambda b: len(by_bucket[b]), reverse=True)
            todo = sorted(worst[:max_buckets])
        if not todo:
            return {
                "compacted_buckets": 0,
                "files_before": len(snap["manifest"]),
                "remaining_buckets": 0,
            }

        entries = [e for b in todo for e in by_bucket[b]]
        df = self._folded(snap, entries, self.n_buckets, drop_tombstones=drop_tombstones)
        # cluster within each bucket (default: by key, so point lookups get
        # tight row-group/file key ranges; cluster_by switches the sort
        # order to a stat column for range-scan file skipping instead; a
        # LIST of 2+ numeric columns interleaves them on a Z-order curve,
        # bounding every file's range in EVERY listed dimension — a
        # lexicographic sort only discriminates its leading column)
        cols = (
            list(cluster_by) if isinstance(cluster_by, (list, tuple))
            else [cluster_by if cluster_by is not None else self.key]
        )
        sort_expr = self._zorder_expr(df, cols) if len(cols) > 1 else F.col(cols[0])
        files_written, _ = self._write_buckets(
            df.repartition(self.n_buckets, F.col(self.key)), snap,
            sort_by=sort_expr, max_file_rows=max_file_rows,
        )
        metrics = {
            "compacted_buckets": len(todo),
            "files_before": len(snap["manifest"]),
            "files_after": len(snap["manifest"])
            - sum(len(by_bucket[b]) for b in todo)
            + len(files_written),
            "remaining_buckets": deferred,
        }
        self._try_commit(
            {
                "operation": "compact",
                "parent": snap["snapshot_id"],
                "snapshot_id": snap["snapshot_id"] + 1,
                "batch_id": None,
                "removed_buckets": list(todo),
                "added": files_written,
                "summary": {"operation": "compact", **metrics},
            }
        )
        return metrics

    def _zorder_expr(self, df: DataFrame, cols: list):
        """64-bit Z-value over up to 8 numeric/timestamp columns: each
        column is range-binned into 256 buckets (8 bits) between its
        min/max over the rows being rewritten, and the bit planes are
        interleaved so sort locality is shared across ALL the columns.
        Bounds come from one aggregation over the rewrite input — a
        second pass over data already being rewritten, which keeps the
        binning correct for any type (incl. timestamps) without trusting
        manifest stat encodings. Nulls and constant columns bin to 0."""
        if len(cols) > 8:
            raise ValueError(f"z-order supports at most 8 columns, got {len(cols)}")
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.TimestampType, T.DateType,
        )
        for c in cols:
            if not isinstance(df.schema[c].dataType, numeric):
                raise ValueError(
                    f"z-order column {c!r} must be numeric/timestamp, got "
                    f"{df.schema[c].dataType.simpleString()}"
                )
        aggs = []
        for c in cols:
            v = F.col(c).cast("double")
            aggs += [F.min(v).alias(f"lo_{c}"), F.max(v).alias(f"hi_{c}")]
        bounds = df.agg(*aggs).first()
        k = len(cols)
        z = F.lit(0).cast("long")
        for i, c in enumerate(cols):
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            if lo is None or hi is None or lo == hi:
                continue  # all-null or constant: contributes no bits
            b256 = F.width_bucket(
                F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)),
                F.lit(256),
            )
            v = F.coalesce(F.least(b256 - 1, F.lit(255)), F.lit(0)).cast("long")
            for b in range(8):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(v, b).bitwiseAND(F.lit(1)), b * k + i
                    )
                )
        return z

    def rollback(self, snapshot_id: int) -> dict:
        """Restore the table to an earlier retained snapshot as a NEW
        commit (Iceberg's ``rollback``): manifest, per-bucket lineage,
        batch-fence ids and bucket layout all return to the target's
        values. Metadata-only — no data file is read, written or deleted;
        the rolled-past snapshots stay time-travel-readable until
        ``expire_snapshots`` drops them, and their files remain referenced
        by the pre-rollback history so the orphan sweep leaves them alone.

        Operator story for a bad publish: ``rollback(good_id)`` and re-run
        the engine — planning resumes from the RESTORED
        ``last_applied_lsn`` and the un-done batches' fence ids were
        restored away with the state, so the replay applies (it is not
        skipped as already-committed). Incremental consumers self-heal:
        ``read_changes`` across the rollback diffs the manifests and
        emits exactly the reversal, so change-feed-maintained indexes and
        views (sigindex/aggview/packed) converge back by their normal
        refresh.

        Concurrency: the rollback commit claims every bucket, so it
        CONFLICTS with any concurrent data commit (no silent interleave);
        a racing writer's retry then recomputes against the restored
        state. Raises ``SnapshotExpiredError`` when the target is no
        longer retained."""
        self.refresh()
        target = self._snapshot_by_id(snapshot_id)
        snap = self._snap
        if snapshot_id == snap["snapshot_id"]:
            return {"rolled_back_to": snapshot_id, "skipped": True}
        committed = self._try_commit({
            "operation": "rollback",
            "parent": snap["snapshot_id"],
            "snapshot_id": snap["snapshot_id"] + 1,
            "batch_id": None,
            # claim every bucket: any concurrent data commit conflicts
            "removed_buckets": list(range(snap["n_buckets"])),
            "restore": {
                "manifest": target["manifest"],
                "lineage": target["lineage"],
                "schema_version": target["schema_version"],
                "committed_batches": target["committed_batches"],
                "n_buckets": target["n_buckets"],
                "unordered_mode": target.get("unordered_mode", False),
            },
            "summary": {"operation": "rollback", "to_snapshot": snapshot_id},
        })
        return {
            "rolled_back_to": snapshot_id,
            "snapshot_id": committed["snapshot_id"],
            "restored_lsn": committed["lineage"]["last_applied_lsn"],
        }

    def rebucket(self, new_n_buckets: int, *, conflict_retries: int = 3) -> dict:
        """Partition evolution: rewrite the table into a new hash-bucket
        count — the lever that keeps per-bucket size bounded as a table
        grows 100× (a 100 TB table wants 10⁴ buckets, not the 64 it was
        created with). One full-table rewrite commit: reads every live
        bucket, re-hashes to the new layout (key-clustered within buckets),
        and atomically swaps ``n_buckets`` + manifest + per-bucket lineage
        (rebuilt from the rewritten files' footer seq stats — the global
        LSN fence is unchanged, so exactly-once is unaffected).

        Multi-writer safe like every commit: rebucket removes ALL old
        buckets, so it conflicts with ANY concurrent data commit in either
        commit order — the loser reloads the new layout and recomputes.
        Readers pinned at older snapshots still materialize the old layout
        (time travel folds the commit log, n_buckets travels with it)."""
        return self._retrying(conflict_retries, self._rebucket_once, new_n_buckets)

    def _rebucket_once(self, new_n_buckets: int) -> dict:
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        snap = self._snap
        old_nb = snap["n_buckets"]
        if new_n_buckets == old_nb:
            return {"rebucketed": False, "n_buckets": old_nb}
        df = self._folded(
            snap, snap["manifest"], new_n_buckets,
            # fenced delivery: tombstones are foldable exactly as in compact
            drop_tombstones=not snap.get("unordered_mode", False),
        )
        files_written, rows_out = self._write_buckets(
            df.repartition(new_n_buckets, F.col(self.key)), snap,
            sort_by=F.col(self.key),
        )
        # every bucket of the NEW layout has logically applied everything up
        # to the global fence (the rewrite is a snapshot of that state), so
        # per-bucket lineage is floored at the carried global LSN — without
        # the floor, buckets whose newest rows were dropped tombstones (or
        # that came out empty) would report an understated/missing
        # last-applied LSN to per-partition lineage consumers (T7)
        glob_lsn = int(snap["lineage"]["last_applied_lsn"])
        per_bucket: dict[str, int] = {str(b): glob_lsn for b in range(new_n_buckets)}
        for e in files_written:
            b = str(e["bucket"])
            per_bucket[b] = max(per_bucket[b], int(e.get("seq_max", glob_lsn)))
        metrics = {
            "rebucketed": True,
            "n_buckets_before": old_nb,
            "n_buckets": new_n_buckets,
            "rows_rewritten": rows_out,
            "files_written": len(files_written),
        }
        self._try_commit(
            {
                "operation": "rebucket",
                "parent": snap["snapshot_id"],
                "snapshot_id": snap["snapshot_id"] + 1,
                "batch_id": None,
                "n_buckets": new_n_buckets,
                # removing every old bucket makes rebucket conflict with any
                # concurrent data commit regardless of commit order
                "removed_buckets": list(range(old_nb)),
                "added": files_written,
                "lineage_delta": {
                    "replace": True,
                    "last_applied_lsn": snap["lineage"]["last_applied_lsn"],
                    "per_bucket": per_bucket,
                },
                "summary": {"operation": "rebucket", **metrics},
            }
        )
        return metrics

    # ---------------- merge (the sink) ----------------

    def merge(
        self,
        updates: DataFrame,
        batch_id: str,
        *,
        seq_col: str = "seq",
        op_col: str = "op",
        delete_value: str = "delete",
        fence: bool = True,
        tombstones: bool = False,
        ts_col: str | None = None,
        mor: bool | None = False,
        conflict_retries: int = 3,
        stage: str | None = None,
        probe_stats: dict | None = None,
    ) -> dict:
        """Key-partitioned MERGE of a micro-batch: last-writer-wins upsert +
        delete, idempotent on batch_id.

        ``probe_stats``: optional pre-computed batch-plan statistics (the
        engine's one-pass prefetch over ALL planned batches — replaces the
        per-merge probe job). Shape: ``{"lo": <slice lower bound>, "nb":
        n_buckets, "key": key, "rows": [{"_bucket", "n", "mx"[, "mts"]}]}``.
        The caller GUARANTEES the rows were aggregated over exactly
        ``updates`` filtered to ``seq > lo`` with this table's bucket
        function; the merge only trusts them when that claim is still
        provably equivalent to its own probe — ``fence`` mode, the fence
        LSN at or below ``lo`` (the slice bound then dominates the fence
        filter), and an unchanged bucket layout/key — and falls back to
        running the probe itself otherwise (e.g. after a concurrent
        commit advanced the fence past the slice, or a rebucket changed
        ``n_buckets`` mid-run).

        ``stage`` (write-audit-publish): instead of committing, park the
        fully-computed commit delta as ``staged-<stage>.json`` — data
        files written, metadata invisible to every reader. Audit the
        would-be state with ``read_staged``, then ``publish_staged`` (an
        atomic CAS commit, exactly-once on batch_id) or ``abort_staged``.
        The Iceberg ``wap.id`` + cherry-pick pattern.

        Multi-writer safe: the commit is optimistic. A concurrent commit on
        DISJOINT buckets is rebased past transparently (no recompute); an
        OVERLAPPING commit (another merge/compact rewriting a touched
        bucket) makes this merge reload table state and re-run, up to
        ``conflict_retries`` times, then raise CommitConflictError. A
        concurrent duplicate of the SAME batch_id is detected at commit
        time and skipped (exactly-once even across racing drivers). Data
        files of a lost attempt are unreferenced orphans (swept by
        ``expire_snapshots(sweep_orphans=True)``).

        Write strategies:
          * copy-on-write (default): touched buckets are read, merged and
            rewritten — O(touched bucket bytes) per batch, cheapest reads.
          * merge-on-read (``mor=True``): only the deduped batch is written,
            as per-bucket DELTA files (deletes kept as tombstones) —
            O(batch) per batch regardless of table size; reads resolve LWW
            across base+deltas until ``compact()`` folds them back. The
            right mode when batches are small relative to the table.
          * cost-based (``mor=None``): decided per batch from statistics
            already in hand — the probe's batch row count vs the manifest's
            live rows in the touched buckets. A batch much smaller than
            what COW would rewrite (< 1/8, the write-amplification
            threshold) goes MOR; otherwise COW keeps reads cheap.

        Every strategy runs one plan (``merge_plan`` reads
        ``aligned-single-shuffle``, plus ``+auto-cow``/``+auto-mor`` in
        cost-based mode): the LWW input is hash-repartitioned to the bucket
        layout — the batch's one payload shuffle — and a single
        ``max_by`` aggregation resolves it, so each task writes exactly
        its own bucket. A hot key's events all meet on its bucket's task;
        for adversarial skew, pre-collapse the batch with the salted
        two-phase ``dedup.lww_dedup`` (``salted=True``).

        Delivery-order contract: with ``fence=True`` (batch engine) the
        caller feeds monotone LSN ranges and events at or below the global
        checkpoint are dropped; COW deletes may then be physical. With
        ``fence=False`` + ``tombstones=True`` (streaming / unordered
        delivery) deletes persist as tombstone rows so an older update
        arriving later still loses LWW instead of resurrecting the row.
        A table should use one mode consistently.

        Returns a metrics dict (also recorded in the snapshot summary).
        """
        import re

        if stage is not None and not re.fullmatch(r"[A-Za-z0-9._-]+", stage):
            raise ValueError(f"invalid stage id {stage!r} (want [A-Za-z0-9._-]+)")
        return self._retrying(
            conflict_retries, self._merge_once,
            updates, batch_id, seq_col=seq_col, op_col=op_col,
            delete_value=delete_value, fence=fence,
            tombstones=tombstones, ts_col=ts_col, mor=mor,
            stage=stage, probe_stats=probe_stats,
        )

    def _merge_once(
        self,
        updates: DataFrame,
        batch_id: str,
        *,
        seq_col: str,
        op_col: str,
        delete_value: str,
        fence: bool,
        tombstones: bool,
        ts_col: str | None,
        mor: bool | None,
        stage: str | None = None,
        probe_stats: dict | None = None,
    ) -> dict:
        import time as _time

        snap = self._snap
        if batch_id in snap["committed_batches"]:
            return {"batch_id": batch_id, "skipped": True, "reason": "already-committed"}

        phase_t: dict[str, float] = {}
        _t0 = _time.time()
        key, nb = self.key, self.n_buckets
        current = self.schema
        payload_cols = [f.name for f in current.fields]

        # 1. fence; in-batch dedup happens inside the single merge LWW below
        #    (one aggregation dedups batch AND resolves against the target —
        #    a separate pre-dedup pass would shuffle the payload twice)
        fence_lsn = snap["lineage"]["last_applied_lsn"]
        raw = updates.where(F.col(seq_col) > F.lit(fence_lsn)) if fence else updates

        # 2. plan: which buckets does this batch touch? Runs on the RAW
        #    fenced batch, so Catalyst prunes the scan to (key, seq[, ts]) —
        #    a cheap probe, and the manifest-level partition-pruning step.
        #    Counts are pre-dedup events (the "applied events" metric); the
        #    event-time watermark piggybacks on the same action.
        has_ts = bool(ts_col) and ts_col in raw.columns
        if (
            probe_stats is not None
            and fence
            and probe_stats.get("nb") == nb
            and probe_stats.get("key") == key
            and fence_lsn <= probe_stats["lo"]
        ):
            # prefetched plan stats are exactly the probe's rows (the
            # caller aggregated the same slice with the same bucket
            # function, and fence ≤ lo makes the fence filter a no-op on
            # the slice) — skip the per-merge probe job
            stats = probe_stats["rows"]
        else:
            probe_aggs = [F.count("*").alias("n"), F.max(seq_col).alias("mx")]
            if has_ts:
                probe_aggs.append(F.max(ts_col).alias("mts"))
            stats = (
                raw.groupBy(bucket_expr(key, nb).alias("_bucket"))
                .agg(*probe_aggs)
                .collect()
            )
        phase_t["probe_sec"] = round(_time.time() - _t0, 3)
        _t0 = _time.time()
        touched = {int(r["_bucket"]): (int(r["n"]), int(r["mx"])) for r in stats}
        batch_max_seq = max((mx for _, mx in touched.values()), default=fence_lsn)
        max_ts = (
            max((r["mts"] for r in stats if r["mts"] is not None), default=None)
            if has_ts
            else None
        )

        ups = _normalize_to(raw, current, evolved=False).select(
            *payload_cols,
            F.col(seq_col).cast("long").alias(SEQ_COL),
            F.col(op_col).alias("_op"),
        )
        ups = ups.withColumn("_bucket", bucket_expr(key, nb))

        applied = sum(n for n, _ in touched.values())
        merge_plan = "aligned-single-shuffle"
        if mor is None:
            # cost-based mode: compare batch size against what COW would
            # rewrite (live rows of touched buckets, known from the
            # manifest — no extra IO). Small batch on a big table → MOR.
            touched_live = sum(
                e["rows"] for e in snap["manifest"] if e["bucket"] in touched
            )
            mor = touched_live > 0 and applied * 8 < touched_live
            merge_plan += "+auto-mor" if mor else "+auto-cow"

        files_written: list[dict] = []
        rows_out = 0
        if touched:
            # 3. the LWW input: merge-on-read resolves the batch alone;
            #    copy-on-write also reads ONLY the touched target buckets
            src = ups
            if not mor:
                tgt_entries = [e for e in snap["manifest"] if e["bucket"] in touched]
                tgt = self._read_manifest(snap, tgt_entries, with_seq=True)
                tgt = tgt.select(
                    *payload_cols,
                    SEQ_COL,
                    F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit(delete_value))
                    .otherwise(F.lit("upsert"))
                    .alias("_op"),
                )
                src = tgt.withColumn("_bucket", bucket_expr(key, nb)).unionByName(ups)

            # 4. LWW. The explicit repartition is THE single payload
            #    shuffle: bucket_expr == Spark's partition function, so it
            #    satisfies both the aggregation's distribution (no second
            #    exchange) and the partitionBy file layout (each task owns
            #    one bucket). Deletes persist as tombstones in merge-on-read
            #    deltas (they mask older base rows) and in unordered mode;
            #    a fenced copy-on-write merge drops them physically.
            out = lww_dedup(src.repartition(nb, F.col(key)), key=key, seq=SEQ_COL)
            if mor or tombstones:
                out = out.withColumn(
                    DELETED_COL, F.col("_op") == F.lit(delete_value)
                ).drop("_op")
            else:
                out = (
                    out.where(F.col("_op") != F.lit(delete_value))
                    .drop("_op")
                    .withColumn(DELETED_COL, F.lit(False))
                )

            # 5. write the touched buckets (COW) or their deltas (MOR)
            files_written, rows_out = self._write_buckets(
                out, snap, kind="delta" if mor else None, phase_t=phase_t, since=_t0
            )

        # 6. lineage: per-bucket + global LSN, committed atomically with
        #    the data as a bucket-granular delta (O(touched buckets) commit
        #    metadata — the full manifest is never rewritten)
        metrics = {
            "batch_id": batch_id,
            "skipped": False,
            "applied_events": applied,
            "merge_plan": merge_plan,
            "per_bucket_applied": {str(b): n for b, (n, _) in sorted(touched.items())},
            "touched_buckets": sorted(touched),
            "files_written": len(files_written),
            "rows_written": rows_out,
            "bytes_written": sum(e.get("bytes", 0) for e in files_written),
            "max_event_ts": max_ts.isoformat() if max_ts is not None else None,
            **phase_t,
        }
        delta = {
            "operation": "merge",
            "parent": snap["snapshot_id"],
            "snapshot_id": snap["snapshot_id"] + 1,
            "batch_id": batch_id,
            # a single fence-less merge marks the table as unordered-
            # delivery forever (compaction then preserves tombstones)
            "unordered": not fence,
            "removed_buckets": [] if mor else sorted(touched),
            "added": files_written,
            "lineage_delta": {
                "last_applied_lsn": max(fence_lsn, batch_max_seq),
                "per_bucket": {str(b): mx for b, (_, mx) in touched.items()},
            },
            "summary": {"operation": "merge", **metrics},
        }
        if stage is not None:
            return self._stage_delta(stage, delta, metrics)
        committed = self._try_commit(delta)
        if committed is None:
            return {
                "batch_id": batch_id,
                "skipped": True,
                "reason": "already-committed-concurrently",
            }
        # table-level totals from the POST-commit state (under a rebase the
        # final manifest includes concurrent disjoint commits as well) —
        # write amplification signal: bytes_written / total_bytes is the
        # number that says when to flip COW → MOR at scale
        metrics["total_bytes"] = sum(e.get("bytes", 0) for e in committed["manifest"])
        metrics["total_rows"] = sum(e["rows"] for e in committed["manifest"])
        return metrics

    # ---------------- write-audit-publish (staged commits) ----------------
    #
    # The WAP flow for a quality-gated CDC pipeline: ``merge(...,
    # stage=<wap_id>)`` writes the batch's data files and parks the
    # fully-computed commit delta in ``staged-<wap_id>.json`` — no reader
    # sees it. ``read_staged`` materializes the would-be table state for
    # audit checks; ``publish_staged`` commits the parked delta through
    # the normal optimistic-CAS path (disjoint main-branch commits made
    # in the meantime are rebased past; an overlapping COW rewrite
    # raises CommitConflictError because the staged rewrite is stale and
    # must be re-staged; a MOR staged delta is pure-append and commutes).
    # Exactly-once: the delta carries its batch_id, so a crash between
    # the publish CAS and the staged-file cleanup replays as a fenced
    # no-op that just finishes the cleanup. Maps onto Iceberg's classic
    # ``wap.id`` stage + ``cherrypick_snapshot`` publish.

    @staticmethod
    def _staged_name(wap_id: str) -> str:
        return f"staged-{wap_id}.json"

    def staged(self) -> dict[str, dict]:
        """Parked (write-audit-publish) commits: wap_id → staged info
        (base snapshot, staged_at, the commit delta, merge metrics)."""
        out: dict[str, dict] = {}
        for n in self._store.list_names("staged-"):
            wap = n[len("staged-"):]
            if wap.endswith(".json"):
                wap = wap[: -len(".json")]
            try:
                out[wap] = self._read_json(n)
            except FileNotFoundError:
                pass  # raced a concurrent publish/abort
        return out

    def _stage_delta(self, wap_id: str, delta: dict, metrics: dict) -> dict:
        import time as _time

        payload = {
            "wap_id": wap_id,
            "staged_at": _time.time(),
            "base_snapshot": delta["parent"],
            "delta": delta,
            "summary": metrics,
        }
        if not self._store.put_if_absent(
            self._staged_name(wap_id), json.dumps(payload).encode()
        ):
            raise ValueError(
                f"staged commit {wap_id!r} already exists "
                f"(publish or abort it first, or pick a fresh wap id)"
            )
        return {**metrics, "staged": True, "wap_id": wap_id}

    def read_staged(
        self,
        wap_id: str,
        *,
        with_seq: bool = False,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """The table state that ``publish_staged(wap_id)`` WOULD produce:
        the staged delta folded onto the CURRENT snapshot — the audit
        view. (If a conflicting main-branch rewrite lands before publish,
        publish raises instead of producing this view; disjoint commits
        fold identically here and at publish time.)"""
        info = self.staged().get(wap_id)
        if info is None:
            raise KeyError(f"no staged commit {wap_id!r}; staged: {sorted(self.staged())}")
        snap = self._snap
        synth = self._apply_delta(
            snap,
            {
                **info["delta"],
                "snapshot_id": snap["snapshot_id"] + 1,
                "parent": snap["snapshot_id"],
            },
        )
        out = self._resolved(synth, synth["manifest"])
        if not include_tombstones:
            out = out.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return out if with_seq else out.drop(SEQ_COL, DELETED_COL)

    def publish_staged(self, wap_id: str) -> dict:
        """Atomically commit a staged (WAP) delta onto the current table
        head. Re-parents past concurrent DISJOINT commits; raises
        CommitConflictError when a concurrent commit rewrote a staged
        bucket (the staged COW merge is stale — abort and re-stage).
        Exactly-once on the staged batch_id: publishing twice, racing
        another publisher, or resuming after a crash mid-publish all
        land the delta exactly once and clean up the staged file."""
        self.refresh()
        info = self.staged().get(wap_id)
        if info is None:
            raise KeyError(f"no staged commit {wap_id!r}; staged: {sorted(self.staged())}")
        delta = info["delta"]
        bid = delta.get("batch_id")
        if bid and bid in self._snap["committed_batches"]:
            # crash after a successful publish CAS but before cleanup, or
            # a racing publisher won — finish the cleanup, fenced no-op
            self._store.delete(self._staged_name(wap_id))
            return {"wap_id": wap_id, "skipped": True, "reason": "already-committed"}
        # cherry-pick validation: the staged delta was computed against
        # base_snapshot — every commit that landed since must COMMUTE with
        # it (disjoint buckets, or mutual pure-appends). Re-parenting to
        # the head without this scan would silently publish a COW rewrite
        # computed against a base that no longer exists. Commits already
        # folded into a checkpoint can no longer be inspected → raise
        # conservatively (abort and re-stage).
        base = int(info.get("base_snapshot", delta["parent"]))
        for sid in range(base + 1, self._snap["snapshot_id"] + 1):
            try:
                mid = self._read_json(self._commit_name(sid))
            except FileNotFoundError:
                raise CommitConflictError(
                    f"staged commit {wap_id!r}: intervening commit {sid} was "
                    f"checkpointed away by expiration — cannot verify "
                    f"commutativity; abort_staged and re-stage"
                )
            if self._delta_conflicts(delta, mid):
                raise CommitConflictError(
                    f"staged commit {wap_id!r} (base {base}) conflicts with "
                    f"intervening commit {sid} "
                    f"(op={mid.get('operation')}, overlapping buckets or "
                    f"schema change) — abort_staged and re-stage against "
                    f"the current base"
                )
        committed = self._try_commit({**delta, "parent": self._snap["snapshot_id"]})
        self._store.delete(self._staged_name(wap_id))
        if committed is None:
            return {
                "wap_id": wap_id,
                "skipped": True,
                "reason": "already-committed-concurrently",
            }
        return {
            **info.get("summary", {}),
            "wap_id": wap_id,
            "skipped": False,
            "published_snapshot": committed["snapshot_id"],
            "total_rows": sum(e["rows"] for e in committed["manifest"]),
        }

    def abort_staged(self, wap_id: str, *, delete_files: bool = True) -> dict:
        """Drop a staged commit: its delta never becomes visible. With
        ``delete_files`` the parked data files are removed immediately
        (they are otherwise exempt from the orphan sweep while staged)."""
        info = self.staged().get(wap_id)
        if info is None:
            raise KeyError(f"no staged commit {wap_id!r}; staged: {sorted(self.staged())}")
        deleted = 0
        if delete_files:
            import shutil

            dirs = set()
            for e in info["delta"].get("added", []):
                fpath = os.path.join(self.path, e["path"])
                dirs.add(os.path.dirname(os.path.dirname(fpath)))
                try:
                    os.remove(fpath)
                    deleted += 1
                except FileNotFoundError:
                    pass
            for d in dirs:
                # the commit dir is exclusively this staged write's output
                if os.path.isdir(d) and not any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(d)
                    for f in fs
                ):
                    shutil.rmtree(d, ignore_errors=True)
        self._store.delete(self._staged_name(wap_id))
        return {"wap_id": wap_id, "deleted_files": deleted}
