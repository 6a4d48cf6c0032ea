"""packing — fixed-length training-sequence packing.

A training run consumes fixed-length token sequences (e.g. 4096); the
corpus is variable-length documents. Packing concatenates the token
stream in a deterministic document order and splits it into consecutive
``seq_len`` chunks ("concat-and-split") — zero padding waste except the
final partial chunk, and bit-reproducible given the same input state
(no greedy bin-packing whose output depends on partitioning).

Semantics: documents are ordered by ``id_col`` (within ``shard_col`` if
given); each document's tokens occupy a contiguous range of the global
token stream at offset ``sum(n_tok of predecessors)``; chunk ``k`` is
stream positions ``[k*seq_len, (k+1)*seq_len)``. A document spanning a
chunk boundary is SPLIT across the two chunks (standard pretraining
packing; callers that must not split can pre-filter long docs).

Scale: the cumulative offset is a prefix sum — a window over the global
order, which Spark executes in a single sorted partition. That is fine
up to the sort capacity of one executor's spill path but is the wrong
plan at 100 TB, so ``shard_col`` packs each shard independently
(embarrassingly parallel; output chunks are keyed ``(shard, seq_id)``) —
the production mode, with shards chosen at bucket/source granularity.
Everything else is native Catalyst: one window, one explode of at most
``ceil(n/seq_len)+1`` pieces per doc, one id-keyed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commitstore import CommitStore
from .derived import IncrementalIndex
from .icebox import IceboxTable


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Pack variable-length token arrays into fixed ``seq_len`` chunks.

    Returns ``(shard?, seq_id, tokens, n_tok, n_docs)``: chunk id within
    the (shard's) stream, the packed token array (``n_tok == seq_len``
    for every chunk except the last partial one), and how many documents
    contributed tokens to the chunk. Empty documents are skipped.

    Plan: prefix-sum window (per shard) → per-doc piece explode (a doc
    emits one piece per chunk it overlaps: ``(chunk, slice)``) → group by
    chunk, order pieces by their global stream offset, flatten. The
    explode is bounded — a doc overlaps at most ``ceil(n/seq_len)+1``
    chunks — so no operator sees more than O(tokens) rows."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    L = int(seq_len)
    toks = F.col(tokens_col)
    keys = ([shard_col] if shard_col else []) + ["seq_id"]

    w = (
        Window.partitionBy(shard_col).orderBy(id_col)
        if shard_col
        else Window.orderBy(id_col)
    )
    d = (
        df.select(*([shard_col] if shard_col else []), id_col, toks.alias("_t"))
        .where(F.size("_t") > 0)
        .withColumn("_n", F.size("_t"))
        .withColumn("_off", (F.sum("_n").over(w) - F.col("_n")).cast("long"))
    )
    off, n = F.col("_off"), F.col("_n")
    # chunks this doc overlaps: floor(off/L) .. floor((off+n-1)/L)
    first = F.floor(off / L)
    last = F.floor((off + n - 1) / L)
    piece = F.explode(
        F.transform(
            F.sequence(first, last),
            lambda k: F.struct(
                k.alias("seq_id"),
                # global stream start of this piece — the sort key that
                # re-orders pieces inside a chunk (struct sort is by
                # field order, so gstart leads)
                F.greatest(k * L, off).alias("gstart"),
                F.slice(
                    F.col("_t"),
                    (F.greatest(k * L - off, F.lit(0)) + 1).cast("int"),
                    (
                        F.least((k + 1) * L, off + n) - F.greatest(k * L, off)
                    ).cast("int"),
                ).alias("toks"),
            ),
        )
    )
    pieces = d.select(*([shard_col] if shard_col else []), piece.alias("p")).select(
        *([shard_col] if shard_col else []),
        F.col("p.seq_id").alias("seq_id"),
        F.struct(F.col("p.gstart").alias("gstart"), F.col("p.toks").alias("toks")).alias(
            "piece"
        ),
    )
    return (
        pieces.groupBy(*keys)
        .agg(
            F.flatten(
                F.transform(F.array_sort(F.collect_list("piece")), lambda x: x["toks"])
            ).alias("tokens"),
            F.count("*").alias("n_docs"),
        )
        .withColumn("n_tok", F.size("tokens"))
        .select(*keys, "tokens", "n_tok", "n_docs")
    )


def pack_documents(
    docs: DataFrame,
    seq_len: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Convenience over text documents: whitespace-tokenize (textops'
    ws convention), pack, and emit the chunk as a joined ``token_str``
    (portable for cross-engine value comparison) beside the counts."""
    tok = docs.select(
        *([shard_col] if shard_col else []),
        id_col,
        F.split(F.trim(F.col(text_col)), r"\s+").alias("tokens"),
    )
    packed = pack_sequences(
        tok, seq_len, tokens_col="tokens", id_col=id_col, shard_col=shard_col
    )
    keys = ([shard_col] if shard_col else []) + ["seq_id"]
    return packed.select(
        *keys, F.array_join("tokens", " ").alias("token_str"), "n_tok", "n_docs"
    )


def epoch_order(chunks: DataFrame, seed: int, *, key_col: str = "pack_id") -> DataFrame:
    """Deterministic training-epoch shuffle: order chunks by
    ``xxhash64(key, seed)`` with the key itself as the tie-break — a TOTAL
    order that is a pure function of (key, seed), so every epoch's
    permutation is identical across reruns, cluster shapes, and partition
    counts (``df.sample``/``rand()`` are not), and a resumed training job
    can seek back to an exact position. A new seed is a statistically
    independent permutation. Physically one range-partitioned sort —
    Spark's parallel sort-shuffle, no driver collect, no skew (hashes are
    uniform) — which IS the right plan at 100 TB: a \"shuffle buffer\"
    approximates this order; the sort produces it exactly."""
    h = F.xxhash64(F.col(key_col), F.lit(int(seed)))
    return chunks.orderBy(h, F.col(key_col))


def export_training_set(
    chunks: DataFrame,
    out_path: str,
    *,
    seed: int,
    rates: dict[str, float] | None = None,
    val_frac: float | None = None,
    key_col: str = "pack_id",
    source_col: str = "shard",
    default_rate: float = 0.0,
) -> dict:
    """The pipeline's training-ready tail: (optional) deterministic mix
    sampling per shard → (optional) train/val split → epoch-ordered
    parquet export. Every stage is a pure function of (key, seed), so two
    exports of the same inputs are ROW-IDENTICAL regardless of cluster
    shape — the property a 100 TB ablation rerun needs.

    The write carries ``epoch_pos`` (the xxhash64 order key): readers
    consume files in name order for the epoch permutation, or re-sort /
    range-seek by ``epoch_pos`` to resume mid-epoch without trusting
    file layout. Returns ``{"rows", "out_path"}``."""
    from .mix import sample_by_rates, with_split

    df = chunks
    if rates is not None:
        df = sample_by_rates(
            df, rates, source_col=source_col, key_col=key_col,
            seed=f"mix{seed}", default_rate=default_rate,
        )
    if val_frac is not None:
        df = with_split(df, val_frac=val_frac, key_col=key_col,
                        seed=f"split{seed}")
    ordered = epoch_order(df, seed, key_col=key_col).withColumn(
        "epoch_pos", F.xxhash64(F.col(key_col), F.lit(int(seed)))
    )
    ordered.write.mode("overwrite").parquet(out_path)
    spark = chunks.sparkSession
    n = spark.read.parquet(out_path).count()
    return {"rows": n, "out_path": out_path}


class PackedTable(IncrementalIndex):
    """Packed training sequences as a DERIVED icebox table, maintained
    incrementally from the source doc table's change feed — the packing
    analog of :class:`sigindex.SignatureIndex` (same reference principle:
    fetch only what changed, /root/reference/src/main/java/org/embulk/
    input/jira/JiraInputPlugin.java:154-163).

    Packing is order-dependent: one edited document shifts every
    downstream chunk boundary in its stream. The repack unit is therefore
    the SHARD (``pack_sequences``'s ``shard_col`` — source/bucket
    granularity, the production packing mode): a refresh reads the change
    feed with pre/post images (CDF — a deleted or moved doc names its old
    shard in the pre-image), collects the touched shard set (metadata-
    scale cardinality, same bounded-collect discipline as the merge
    probe), re-packs ONLY those shards from the pinned source snapshot,
    and MERGEs the result keyed ``pack_id = shard:seq_id`` — chunks past
    the shard's new end are deleted by anti-join. Cost per refresh is
    O(touched shards), not O(corpus): the feed read is O(changed
    buckets), and the shard re-read is an ``("shard", "in", ...)``
    filtered read that skips non-matching files at plan time when the
    source is shard-clustered (``compact(cluster_by=shard_col)``).

    Exactly-once: the MERGE batch id is the (from, to) snapshot pair and
    the consumer pin advances only after the merge is durable — a crash
    in between replays as a fenced no-op. The source's consumer registry
    pins the from-snapshot so expiration can never break the feed.

    Schema (frozen at create): ``pack_id`` (key), ``shard``, ``seq_id``,
    ``tokens``, ``n_tok``, ``n_docs``. Documents with a NULL shard are
    outside every stream and are never packed."""

    SPEC_FILE = "packidx.json"

    def __init__(
        self, spark: SparkSession, table: IceboxTable, *,
        seq_len: int, id_col: str, tokens_col: str, shard_col: str,
    ):
        super().__init__(spark, table)
        self.seq_len = int(seq_len)
        self.id_col = id_col
        self.tokens_col = tokens_col
        self.shard_col = shard_col

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        seq_len: int,
        shard_type: T.DataType = T.StringType(),
        token_type: T.DataType = T.IntegerType(),
        id_col: str = "doc_id",
        tokens_col: str = "tokens",
        shard_col: str = "source",
        n_buckets: int = 16,
        store: CommitStore | None = None,
    ) -> "PackedTable":
        if seq_len < 1:
            raise ValueError(f"seq_len must be >= 1, got {seq_len}")
        schema = T.StructType(
            [
                T.StructField("pack_id", T.StringType()),
                T.StructField("shard", shard_type),
                T.StructField("seq_id", T.LongType()),
                T.StructField("tokens", T.ArrayType(token_type)),
                T.StructField("n_tok", T.IntegerType()),
                T.StructField("n_docs", T.LongType()),
            ]
        )
        return cls._create(
            spark, path, schema, key="pack_id", n_buckets=n_buckets, store=store,
            spec={"seq_len": int(seq_len), "id_col": id_col,
                  "tokens_col": tokens_col, "shard_col": shard_col},
        )

    # ---------------- incremental maintenance ----------------

    def _pack_shards(self, src_table: IceboxTable, to_sid: int, shards: list) -> DataFrame:
        """Re-pack the given shards from the pinned source snapshot —
        identical output to the full ``pack_sequences(..., shard_col=...)``
        restricted to those shards (pinned by the shard==global test in
        tests/test_packing.py). A string ``tokens_col`` is whitespace-
        tokenized (the ``pack_documents`` convention)."""
        sl = src_table.read(to_sid, filters=[(self.shard_col, "in", shards)])
        toks = (
            F.split(F.trim(F.col(self.tokens_col)), r"\s+")
            if isinstance(sl.schema[self.tokens_col].dataType, T.StringType)
            else F.col(self.tokens_col)
        )
        tok_df = sl.select(
            F.col(self.shard_col).alias("shard"),
            F.col(self.id_col).alias("_pid"),
            toks.alias("_ptoks"),
        ).where(F.col("shard").isNotNull())
        return pack_sequences(
            tok_df, self.seq_len, tokens_col="_ptoks", id_col="_pid",
            shard_col="shard",
        )

    def _evolve_with_source(self, src_table: IceboxTable) -> None:
        """If the source widened its token element type mid-stream (T6
        schema evolution — e.g. array<int> → array<long>), the packed
        ``tokens`` column takes the source's type FIRST: merging wider
        values into the frozen schema would silently wrap them (int
        overflow), the one failure mode worse than an error. The packed
        table's ``update_schema`` raises on anything but a widening.
        Unrelated source changes (added columns) need nothing — the
        repack projects its three columns."""
        src_dt = src_table.schema[self.tokens_col].dataType
        if not isinstance(src_dt, T.ArrayType):
            return  # string tokens_col: split() yields strings forever
        cur = self.table.schema
        if src_dt.simpleString() == cur["tokens"].dataType.simpleString():
            return
        self.table.update_schema(
            T.StructType(
                [
                    f if f.name != "tokens" else T.StructField("tokens", src_dt)
                    for f in cur.fields
                ]
            )
        )

    def refresh_from(self, src_table: IceboxTable, *, consumer: str = "packed") -> dict:
        """Fold the source table's changes since the last sync into the
        packed table by re-packing only the touched shards."""
        shards = None

        def rows(ch, to_sid):
            nonlocal shards
            # after change_window refreshed src_table: the widening check
            # sees the schema at ``to``, also when another handle widened it
            self._evolve_with_source(src_table)
            # touched shards: pre- AND post-images, so a doc moving between
            # shards repacks both its old and new stream. Bounded collect —
            # shard cardinality is source/bucket-scale metadata, not row-scale.
            shards = [
                r[0]
                for r in ch.select(F.col(self.shard_col).alias("_s"))
                .where(F.col("_s").isNotNull())
                .distinct()
                .collect()
            ]
            if not shards:
                return None
            ups = self._pack_shards(src_table, to_sid, shards).select(
                F.lit("upsert").alias("_change"),
                F.concat_ws(
                    ":", F.col("shard").cast("string"), F.col("seq_id").cast("string")
                ).alias("pack_id"),
                "shard", "seq_id", "tokens", "n_tok", "n_docs",
            )
            # chunks past each shard's new end (or of a vanished shard)
            cur = self.table.read(filters=[("shard", "in", shards)])
            stale = cur.select("pack_id").join(
                ups.select("pack_id"), "pack_id", "left_anti"
            )
            return ups.unionByName(self._tombstones(stale))

        m = self._fold(src_table, consumer=consumer, mode="cdf", rows=rows)
        return m if shards is None else {**m, "applied_shards": len(shards)}

    # ---------------- query ----------------

    def chunks(self) -> DataFrame:
        """Current packed state ``(pack_id, shard, seq_id, tokens, n_tok,
        n_docs)`` — identical to ``pack_sequences`` over the current
        source corpus (refreshes the handle first, same live-read
        discipline as SignatureIndex.signatures)."""
        self.table.refresh()
        return self.table.read()
