"""sigindex — a persistent MinHash/LSH signature index, maintained
incrementally from an icebox table's change feed.

This is the reference's incremental-pull principle (fetch only issues
updated since the last run — /root/reference/src/main/java/org/embulk/
input/jira/JiraInputPlugin.java:154-163) applied to the dedup family.
Recomputing shingles + MinHash for the whole corpus on every ingest is
O(corpus) CPU per batch — the dominant dedup cost at 100 TB. Instead the
signatures live in their OWN icebox table (``doc_id, mh_0 … mh_{k-1}``,
LWW-merged, hash-bucketed like any other table), and maintenance is:

  read_changes(from=last-synced snapshot)   -- O(changed buckets)
    → minhash_signatures(changed docs only) -- O(batch) CPU
    → MERGE into the index                  -- O(touched buckets)
    → advance_consumer                      -- pin released

The doc table's consumer registry pins the from-snapshot, so table
maintenance (expire_snapshots) can never break the index's incremental
reader; the MERGE's batch_id is derived from the (from, to) snapshot ids,
so a crash between MERGE and advance_consumer replays as an exactly-once
no-op. Deduping a NEW batch probes the batch's band keys against the
index: signatures are computed for the batch only, the batch side is
broadcast, and the index is scanned once with no shuffle — no document
text outside the batch is re-read or re-hashed.

Band keys are DERIVED from the stored minhashes at read time (a pure
projection) rather than stored, so the index stays one narrow row per
document and band parameters can be re-derived without a rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann import _cap_row_count, cap_hot_groups, default_bucket_cap
from .commitstore import CommitStore
from .dedup import lww_dedup
from .dedupe_docs import (
    LSH_BANDS,
    MINHASH_K,
    _hashed_shingle_sets,
    _jaccard_verify,
    band_keys,
    banded_pairs,
    cap_hot_bands,
    minhash_signatures,
    sim_chunks,
    simhash64_native,
    simhash_chunk_pairs,
)
from .derived import IncrementalIndex
from .icebox import IceboxTable
from .session import materialize, release


def _index_schema(k: int, key_type: T.DataType) -> T.StructType:
    return T.StructType(
        [T.StructField("doc_id", key_type)]
        + [T.StructField(f"mh_{i}", T.StringType()) for i in range(k)]
    )


class SignatureIndex(IncrementalIndex):
    """Persistent MinHash signature index over a document corpus.

    Wraps an :class:`IceboxTable` keyed by ``doc_id``; ``k``/``bands`` are
    frozen at create time in a metadata sidecar so every maintainer and
    prober derives the same hash family.
    """

    SPEC_FILE = "sigindex.json"

    def __init__(self, spark: SparkSession, table: IceboxTable, *, k: int, bands: int):
        super().__init__(spark, table)
        self.k = k
        self.bands = bands

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        k: int = MINHASH_K,
        bands: int = LSH_BANDS,
        n_buckets: int = 16,
        key_type: T.DataType = T.StringType(),
        store: CommitStore | None = None,
    ) -> "SignatureIndex":
        if k % bands:
            raise ValueError(f"k={k} must be divisible by bands={bands}")
        return cls._create(
            spark, path, _index_schema(k, key_type), key="doc_id",
            n_buckets=n_buckets, store=store, spec={"k": k, "bands": bands},
        )

    # ---------------- incremental maintenance ----------------

    def refresh_from(
        self,
        doc_table: IceboxTable,
        *,
        consumer: str = "sigindex",
        text_col: str = "text",
    ) -> dict:
        """Fold the doc table's changes since the last sync into the index.

        O(changed docs), not O(corpus): ``read_changes`` reads only buckets
        whose file set changed, shingling/hashing runs only over those
        docs, and the MERGE touches only their index buckets. An upserted
        doc too short to shingle (or a deleted doc) is REMOVED from the
        index — unindexable docs never pollute the band space. Safe to
        re-run after a crash: the batch id is the (from, to) snapshot pair,
        so the replayed MERGE is skipped by the idempotency fence, and the
        consumer pin is only advanced after the MERGE is durable."""
        return self._refresh(
            doc_table,
            consumer=consumer,
            derive=lambda ups: minhash_signatures(ups, k=self.k, text_col=text_col),
        )

    # ---------------- query ----------------

    def signatures(self) -> DataFrame:
        """Current (doc_id, mh_0 … mh_{k-1}) — identical to
        ``minhash_signatures`` over the current corpus state. Refreshes
        the table handle first: an index serves LIVE state even when
        another maintainer (or a fenced duplicate of our own refresh)
        committed through a different handle; snapshot-pinned reads are
        available via ``table.read(snapshot_id=...)`` directly."""
        self.table.refresh()
        return self.table.read()

    def pairs(self, *, max_band: int | None = None) -> DataFrame:
        """All candidate near-dup pairs from the stored index — equals
        ``minhash_lsh_pairs`` over the current corpus with zero signature
        recompute (band keys are a projection of the index scan)."""
        if max_band is None:
            max_band = 512
        banded = cap_hot_bands(
            band_keys(self.signatures(), k=self.k, bands=self.bands), max_band
        )
        return banded_pairs(banded)

    def probe(
        self,
        new_docs: DataFrame,
        *,
        text_col: str = "text",
        max_band: int | None = None,
    ) -> DataFrame:
        """Candidate pairs between a NEW batch and the indexed corpus:
        ``(new_id, indexed_id)`` sharing at least one LSH band.

        The scale path for ingest-time dedup: MinHash runs over the batch
        only, the batch's band rows are broadcast, and the index is scanned
        once with NO shuffle (broadcast hash join) — per-batch cost is
        O(batch CPU + index scan), independent of corpus text size. Docs
        already present in the index match themselves; callers dedup a
        batch pre-commit by probing before merging it into the doc table
        (``new_id != indexed_id`` filters the self-match either way)."""
        if max_band is None:
            max_band = 512
        nsig = minhash_signatures(new_docs, k=self.k, text_col=text_col)
        nb = band_keys(nsig, k=self.k, bands=self.bands).select(
            F.col("doc_id").alias("new_id"), "band", "band_key"
        )
        # r6: semi-join the index's band rows down to the batch's band
        # keys BEFORE the hot-band cap — the cap's rank is computed per
        # (band, band_key) group and the semi-join keeps whole groups, so
        # the retained members are identical, but the row_number window
        # now sorts only the matching groups instead of shuffling every
        # band row of the index on every probe.
        ib = band_keys(self.signatures(), k=self.k, bands=self.bands).join(
            F.broadcast(nb.select("band", "band_key").distinct()),
            ["band", "band_key"],
            "leftsemi",
        )
        ib = cap_hot_bands(ib, max_band)
        return (
            ib.join(F.broadcast(nb), ["band", "band_key"])
            .where(F.col("doc_id") != F.col("new_id"))
            .select("new_id", F.col("doc_id").alias("indexed_id"))
            .distinct()
        )


class SimhashIndex(IncrementalIndex):
    """Persistent 64-bit SimHash index over a document corpus — the simhash
    analog of :class:`SignatureIndex`, one narrow ``(doc_id, sim:long)``
    row per doc, maintained incrementally from the doc table's change feed
    via the shared :class:`IncrementalIndex` machinery (consumer-pinned
    window, exactly-once MERGE, unrepresentable-row removal).

    The stored family is the NATIVE one (``simhash64_native``: xxhash64
    tokens, JVM bit-vote — no Python per row), so index maintenance stays
    whole-stage-codegen'd; sims are not comparable to the md5 oracle
    family. A null-text doc has no sim and is removed from the index; a
    token-less doc stores the all-zero-vote sentinel (-2^63), matching the
    recompute path's conventions. Chunk banding is DERIVED at read time
    (a projection), mirroring SignatureIndex's derived band keys — the
    index never stores band layout."""

    SPEC_FILE = "simindex.json"

    def __init__(self, spark: SparkSession, table: IceboxTable, *, family: str):
        if family != "native":
            raise ValueError(f"unknown simhash family {family!r} (only 'native')")
        super().__init__(spark, table)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        n_buckets: int = 16,
        key_type: T.DataType = T.StringType(),
        store: CommitStore | None = None,
    ) -> "SimhashIndex":
        schema = T.StructType(
            [T.StructField("doc_id", key_type), T.StructField("sim", T.LongType())]
        )
        return cls._create(
            spark, path, schema, key="doc_id", n_buckets=n_buckets, store=store,
            spec={"family": "native"},
        )

    # ---------------- incremental maintenance ----------------

    def refresh_from(
        self,
        doc_table: IceboxTable,
        *,
        consumer: str = "simindex",
        text_col: str = "text",
    ) -> dict:
        """Fold the doc table's changes since the last sync into the index:
        O(changed docs) hashing + O(touched buckets) MERGE, exactly-once
        under crash/replay (same contract as SignatureIndex.refresh_from)."""
        return self._refresh(
            doc_table,
            consumer=consumer,
            derive=lambda ups: simhash64_native(ups, text_col=text_col).where(
                F.col("sim").isNotNull()
            ),
        )

    # ---------------- query ----------------

    def sims(self) -> DataFrame:
        """Current (doc_id, sim) — identical to ``simhash64_native`` over
        the live corpus state (handle refreshed so racing maintainers'
        commits are visible)."""
        self.table.refresh()
        return self.table.read()

    def pairs(self, *, max_hamming: int = 4, max_chunk: int | None = None) -> DataFrame:
        """All near-dup pairs (hamming ≤ max_hamming) from the stored sims —
        equals ``simhash_near_pairs`` over the current corpus with ZERO
        re-hashing. Default hot-chunk cap sized from a zero-job row count
        of the index itself."""
        sims = self.sims()
        if max_chunk is None:
            max_chunk = default_bucket_cap(_cap_row_count(sims, None), 65536)
        return simhash_chunk_pairs(sims, max_hamming=max_hamming, max_chunk=max_chunk)

    def probe(
        self,
        new_docs: DataFrame,
        *,
        text_col: str = "text",
        max_hamming: int = 4,
        max_chunk: int | None = None,
    ) -> DataFrame:
        """Near-dup pairs between a NEW batch and the indexed corpus:
        ``(new_id, indexed_id, hamming)`` with hamming ≤ max_hamming.

        Ingest-time scale shape, same as SignatureIndex.probe: simhash runs
        over the batch only, the batch's chunk rows are BROADCAST, and the
        index is scanned once with no shuffle. Docs already indexed match
        themselves; the self-pair is filtered."""
        nsim = simhash64_native(new_docs, text_col=text_col).where(
            F.col("sim").isNotNull()
        )
        nb = sim_chunks(nsim).select(
            F.col("doc_id").alias("new_id"), F.col("sim").alias("nsim"),
            "chunk_idx", "chunk",
        )
        sims = self.sims()
        if max_chunk is None:
            max_chunk = default_bucket_cap(_cap_row_count(sims, None), 65536)
        # semi-join to the batch's chunk keys before the hot-chunk cap —
        # whole groups are kept, so the cap's per-group rank (and thus the
        # retained member set) is unchanged while the window no longer
        # shuffles every chunk row of the index per probe (same shape as
        # SignatureIndex.probe).
        ib = sim_chunks(sims).join(
            F.broadcast(nb.select("chunk_idx", "chunk").distinct()),
            ["chunk_idx", "chunk"],
            "leftsemi",
        )
        ib = cap_hot_groups(ib, ["chunk_idx", "chunk"], "doc_id", max_chunk)
        ham = F.bit_count(F.col("sim").bitwiseXOR(F.col("nsim")))
        return (
            ib.join(F.broadcast(nb), ["chunk_idx", "chunk"])
            .where(F.col("doc_id") != F.col("new_id"))
            .select("new_id", F.col("doc_id").alias("indexed_id"), ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct()
        )


def dedup_gated_ingest(
    doc_table: IceboxTable,
    index: SignatureIndex,
    batch: DataFrame,
    batch_id: str,
    *,
    threshold: float = 0.6,
    text_col: str = "text",
    seq_col: str = "seq",
    op_col: str = "op",
    max_band: int | None = None,
    point_read_threshold: int = 10_000,
) -> dict:
    """The production ingest shape: near-dup-gate a batch against the
    ALREADY-INGESTED corpus before committing it.

      probe      — the batch's band keys (computed over the batch only,
                   broadcast) against one scan of the signature index
      verify     — exact n-gram Jaccard on candidate pairs ONLY; the
                   indexed side's text is point-read from the doc table
                   by key (read_keys: bucket + footer-range pruning), so
                   verification reads O(candidate) rows, not the corpus
      commit     — survivors MERGE into the doc table (deletes and
                   non-candidate upserts pass straight through)
      maintain   — the index folds the same committed changes via its
                   change-feed refresh, staying exactly in sync

    Per-batch cost is O(batch CPU + index scan + candidate point-reads) —
    independent of corpus text size. Each key is judged by the version
    the merge commits: the probe and the verify run over the batch's
    per-key LWW winners (``lww_dedup`` on ``seq_col``), and a key whose
    winner is a delete is not gated. In-batch duplicates across keys are
    NOT handled here (run exact_dedupe / minhash over the batch first if
    producers can emit them); a batch doc pairing only with other batch
    docs is ingested.

    Candidate texts come via ``read_keys`` point lookups (bucket +
    footer-range pruning) while the distinct candidate id set fits
    ``point_read_threshold`` driver-side; a dup-heavy batch whose
    candidate set blows past it switches to a distributed semi-join
    against the table scan instead — no unbounded driver collect on any
    input. The verify is ``dedupe_docs._jaccard_verify`` over hashed
    shingle sets, the one ``lsh_verified_pairs`` uses. Returns counts +
    the merge and refresh metrics."""
    key = doc_table.key
    # the winners, the candidate pairs and the losers are each evaluated
    # once: the probe and the verify read the same winners, the id collect
    # and the verify join the same probe, and the merge's probe and write
    # both anti-join the losers
    held: list = []
    try:
        new = materialize(
            lww_dedup(batch, key, seq_col)
            .where(F.col(op_col) != "delete")
            .select(F.col(key).alias("doc_id"), text_col),
            held,
        )
        cand = materialize(
            index.probe(new, text_col=text_col, max_band=max_band), held
        )
        cand_ids = cand.select("indexed_id").distinct()
        idx_ids = [r["indexed_id"]
                   for r in cand_ids.limit(point_read_threshold + 1).collect()]
        dropped = 0
        if idx_ids:
            if len(idx_ids) <= point_read_threshold:
                cand_docs = doc_table.read_keys(idx_ids)
            else:
                # too many candidates for a keyed point-read: semi-join the
                # candidate ids against the table scan (distributed, no
                # driver materialization beyond the threshold probe above)
                cand_docs = doc_table.read().join(
                    cand_ids.withColumnRenamed("indexed_id", key), key, "leftsemi"
                )
            verified = _jaccard_verify(
                cand,
                _hashed_shingle_sets(new, text_col),
                _hashed_shingle_sets(
                    cand_docs.select(F.col(key).alias("doc_id"), text_col), text_col
                ),
                threshold,
                id1="new_id",
                id2="indexed_id",
            )
            losers = materialize(
                verified.select(F.col("new_id").alias(key)).distinct(), held
            )
            dropped = losers.count()
            batch = batch.join(losers, key, "left_anti")
        m = doc_table.merge(batch, batch_id, seq_col=seq_col, op_col=op_col)
    finally:
        release(held)
    ref = index.refresh_from(doc_table)
    return {
        "dropped_near_dups": dropped,
        "merge": m,
        "index_refresh": {k: ref[k] for k in ("from_snapshot", "to_snapshot")
                          if k in ref},
    }
