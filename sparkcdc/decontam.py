"""decontam — benchmark decontamination for training-data pipelines.

Before a corpus feeds a training run, every document containing an
n-gram from a held-out benchmark/eval suite must be found (and dropped
or flagged) — otherwise eval numbers measure memorization. At 100 TB
this is a containment-join problem: the benchmark side is tiny (an eval
suite is thousands of n-grams), the corpus side is everything, so the
only plan that scales is ONE pass over the corpus with the benchmark
grams broadcast — never a shuffle keyed on the (extremely skewed)
n-grams themselves, and never a corpus re-scan per benchmark refresh.

Three tiers, same semantics:

  contamination_scan        exact string n-grams, broadcast hash join —
                            the oracle path (ANSI-SQL-expressible) and
                            correct by construction
  contamination_scan_hashed same plan over xxhash64 gram hashes — 8-byte
                            comparisons instead of ~8-word strings; the
                            per-corpus-pass scale path
  NgramIndex                the gram hashes persisted in their own icebox
                            table and maintained incrementally from the
                            doc table's change feed (the reference's
                            incremental-pull principle — /root/reference/
                            src/main/java/org/embulk/input/jira/
                            JiraInputPlugin.java:154-163 — applied to
                            decontamination): probing a NEW benchmark
                            costs one index scan, not a corpus re-read,
                            and an ingest batch only re-hashes itself

The two scans share one body, ``_containment_scan``; they differ only
in the function that derives a document's distinct grams. All gram
derivation is native Catalyst (split / sequence / slice / transform /
xxhash64) — no Python in any path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commitstore import CommitStore
from .derived import IncrementalIndex
from .icebox import IceboxTable
from .session import spread_scan

DEFAULT_N = 8


def word_ngrams(text_col, n: int = DEFAULT_N):
    """array<string> of sliding word ``n``-grams of a text column
    (whitespace tokenization, matching textops' ws token counts).

    Guarded for short docs: ``sequence(1, size-n+1)`` DESCENDS when the
    doc has fewer than ``n`` tokens (Spark generates [1, 0]), so the
    short case must return an explicit empty array."""
    toks = F.split(F.trim(text_col), r"\s+")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_ngram_hashes(tokens_col, n: int = DEFAULT_N):
    """array<bigint>: distinct xxhash64 over each sliding ``n``-token
    window of an ``array<int>`` token column (the north-rule table's
    pre-tokenized form). 8 bytes per gram regardless of n — the storage
    and comparison unit for the hashed scan and the persistent index."""
    return F.when(
        F.size(tokens_col) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tokens_col) - n + 1),
                lambda i: F.xxhash64(F.slice(tokens_col, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _containment_scan(
    docs: DataFrame, bench: DataFrame, grams, col: str, id_col: str
) -> DataFrame:
    """``(id, n_hits, n_grams)`` for every doc sharing at least one gram
    with ``bench``, where ``grams`` maps ``col`` to a row's distinct grams.

    Plan: benchmark grams dedup'd and BROADCAST, marked with a literal;
    one pass over the docs explodes each doc's distinct grams, broadcast
    LEFT-joins the marker, and a SINGLE id-keyed aggregation produces
    both counts — ``n_grams = count(*)`` and ``n_hits = count(marker)``
    — with the inner-join semantics restored by ``n_hits > 0``. No
    shuffle on the gram (n-grams are Zipfian; a gram-keyed shuffle would
    hot-spot), the gram set is derived ONCE, and per-run cost is one
    corpus scan regardless of benchmark size. The narrow (id, col)
    projection is spread to full parallelism first (session.spread_scan)
    so few-file corpora do not derive their grams on a handful of scan
    tasks."""
    bgrams = (
        bench.select(F.explode(grams(F.col(col))).alias("gram"))
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    dg = spread_scan(docs.select(id_col, col)).select(
        id_col, F.explode(grams(F.col(col))).alias("gram")
    )
    return (
        dg.join(F.broadcast(bgrams), "gram", "left")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_grams"), F.count("_m").alias("n_hits"))
        .where(F.col("n_hits") > 0)
        .select(id_col, "n_hits", "n_grams")
    )


def contamination_scan(
    docs: DataFrame,
    bench: DataFrame,
    *,
    n: int = DEFAULT_N,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-match contamination scan: for every document sharing at
    least one word ``n``-gram with the benchmark corpus, return
    ``(id, n_hits, n_grams)`` — hit count and the doc's distinct-gram
    total (callers derive the contamination fraction). Plan: see
    ``_containment_scan``."""
    return _containment_scan(
        docs, bench, lambda c: F.array_distinct(word_ngrams(c, n)), text_col, id_col
    )


def contamination_scan_hashed(
    docs: DataFrame,
    bench: DataFrame,
    *,
    n: int = DEFAULT_N,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed contamination scan over pre-tokenized ``array<int>`` docs:
    same plan as :func:`contamination_scan` but comparing 8-byte xxhash64
    gram hashes. A hash collision can produce a false positive
    (~2^-64 per comparison — negligible at any corpus size); downstream
    droppers that need certainty re-verify flagged docs exactly."""
    return _containment_scan(
        docs, bench, lambda c: token_ngram_hashes(c, n), tokens_col, id_col
    )


def _index_schema(key_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", key_type),
            T.StructField("grams", T.ArrayType(T.LongType())),
        ]
    )


class NgramIndex(IncrementalIndex):
    """Persistent n-gram fingerprint index over a tokenized corpus table,
    maintained incrementally from the table's change feed.

    One narrow row per document: ``(doc_id, grams array<bigint>)`` — the
    distinct xxhash64 hashes of the doc's sliding ``n``-token windows.
    ``n`` is frozen at create time in a metadata sidecar so every
    maintainer and prober derives the same gram family. Docs with fewer
    than ``n`` tokens have no grams and are OMITTED from the index (a
    probe correctly never flags them); deletes remove the row.

    Why persist: a benchmark refresh (new eval suite, expanded held-out
    set) probes the index — O(index scan), no re-tokenization or re-read
    of the corpus — and an ingest batch's grams are computed over the
    batch only, folded in through the exactly-once change-feed refresh
    shared with SignatureIndex/VectorIndex."""

    SPEC_FILE = "ngramindex.json"

    def __init__(self, spark: SparkSession, table: IceboxTable, *, n: int):
        super().__init__(spark, table)
        self.n = n

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        n: int = DEFAULT_N,
        n_buckets: int = 16,
        key_type: T.DataType = T.StringType(),
        store: CommitStore | None = None,
    ) -> "NgramIndex":
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        return cls._create(
            spark, path, _index_schema(key_type), key="doc_id",
            n_buckets=n_buckets, store=store, spec={"n": n},
        )

    # ---------------- incremental maintenance ----------------

    def refresh_from(
        self,
        doc_table: IceboxTable,
        *,
        consumer: str = "ngramindex",
        tokens_col: str = "tokens",
    ) -> dict:
        """Fold the doc table's changes since the last sync into the
        index — O(changed docs): gram hashing runs only over the changed
        rows, the MERGE touches only their index buckets, and a crash
        between MERGE and consumer advance replays as a fenced no-op
        (batch id = the (from, to) snapshot pair)."""

        def derive(ups: DataFrame) -> DataFrame:
            g = ups.select(
                "doc_id",
                token_ngram_hashes(F.col(tokens_col), self.n).alias("grams"),
            )
            # < n tokens → no grams → omit (IncrementalIndex removes)
            return g.where(F.size("grams") > 0)

        return self._refresh(doc_table, consumer=consumer, derive=derive)

    # ---------------- query ----------------

    def grams(self) -> DataFrame:
        """Live (doc_id, grams) state — handle refreshed first so a
        fenced/raced refresh through another handle is visible."""
        self.table.refresh()
        return self.table.read()

    def probe(self, bench: DataFrame, *, tokens_col: str = "tokens") -> DataFrame:
        """Contaminated docs vs a benchmark of tokenized sequences:
        ``(doc_id, n_hits, n_grams)`` for every indexed doc sharing at
        least one ``n``-gram hash with the benchmark.

        The benchmark's gram hashes are computed over the benchmark ONLY
        and broadcast; the plan scans just the index table (the doc table
        is not touched). Cost: one index scan per benchmark, independent
        of corpus text size."""
        bgrams = (
            bench.select(
                F.explode(token_ngram_hashes(F.col(tokens_col), self.n)).alias(
                    "gram_h"
                )
            ).distinct()
        )
        dg = self.grams().select(
            "doc_id", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram_h")
        )
        return (
            dg.join(F.broadcast(bgrams), "gram_h")
            .groupBy("doc_id", "n_grams")
            .agg(F.count("*").alias("n_hits"))
            .select("doc_id", "n_hits", "n_grams")
        )
