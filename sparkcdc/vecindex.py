"""vecindex — a persistent LSH-bucketed ANN index over an embedding
corpus, maintained incrementally from an icebox table's change feed.

The vector sibling of :mod:`sigindex` (same incremental-pull principle —
/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:
154-163 — via the shared :class:`IncrementalIndex` machinery): instead of
re-hashing every corpus vector through the sign-random-projection planes
on every query set (n_bands × n_planes × dim multiply-adds per vector —
the dominant ANN setup cost at 10⁹ vectors), each vector's per-band
bucket ids are computed ONCE when it changes and stored alongside the
vector in an icebox table:

    (vec_id, embedding, bucket_0 … bucket_{n_bands-1})

``ann_topk`` then answers a query set from the index alone: the (band,
bucket) rows are a pure projection+posexplode of the stored columns, the
query side is broadcast, and exact cosines use the index's own embedding
column — the source embeddings table is never scanned (pinned by plan
test). Plane family (dim, n_planes, n_bands, seed) is frozen at create
time in a metadata sidecar so every maintainer and prober buckets
identically; changing the family means building a new index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann import _lsh_topk, band_seed, default_bucket_cap, lsh_bucket_expr, lsh_planes
from .commitstore import CommitStore
from .derived import IncrementalIndex
from .icebox import IceboxTable


def _index_schema(n_bands: int, key_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("vec_id", key_type),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
        + [T.StructField(f"bucket_{b}", T.StringType()) for b in range(n_bands)]
    )


class VectorIndex(IncrementalIndex):
    """Persistent sign-random-projection ANN index over a vector corpus."""

    SPEC_FILE = "vecindex.json"

    def __init__(
        self,
        spark: SparkSession,
        table: IceboxTable,
        *,
        dim: int,
        n_planes: int,
        n_bands: int,
        seed: int,
    ):
        super().__init__(spark, table)
        self.dim = dim
        self.n_planes = n_planes
        self.n_bands = n_bands
        self.seed = seed

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        dim: int,
        n_planes: int = 8,
        n_bands: int = 4,
        seed: int = 42,
        n_buckets: int = 16,
        key_type: T.DataType = T.LongType(),
        store: CommitStore | None = None,
    ) -> "VectorIndex":
        return cls._create(
            spark, path, _index_schema(n_bands, key_type), key="vec_id",
            n_buckets=n_buckets, store=store,
            spec={"dim": dim, "n_planes": n_planes, "n_bands": n_bands, "seed": seed},
        )

    # ---------------- incremental maintenance ----------------

    def _bucket_cols(self, vec_col: str) -> list:
        return [
            lsh_bucket_expr(
                vec_col, lsh_planes(self.dim, self.n_planes, band_seed(self.seed, b))
            ).alias(f"bucket_{b}")
            for b in range(self.n_bands)
        ]

    def refresh_from(
        self,
        vec_table: IceboxTable,
        *,
        consumer: str = "vecindex",
        vec_col: str = "embedding",
    ) -> dict:
        """Fold the vector table's changes since the last sync into the
        index: bucket ids are computed for ONLY the changed vectors (the
        once-per-vector hashing the per-query recompute path repeats for
        the whole corpus), null/wrong-width vectors are removed rather
        than indexed, and the MERGE + consumer pin replay exactly-once
        (same machinery and guarantees as SignatureIndex)."""

        def derive(ups: DataFrame) -> DataFrame:
            ok = ups.where(
                F.col(vec_col).isNotNull() & (F.size(vec_col) == self.dim)
            )
            return ok.select(
                "vec_id",
                F.col(vec_col).cast("array<float>").alias("embedding"),
                *self._bucket_cols(vec_col),
            )

        return self._refresh(vec_table, consumer=consumer, derive=derive)

    # ---------------- query ----------------

    def tagged(self) -> DataFrame:
        """(vec_id, band, bucket) — the ``_band_tagged`` shape as a pure
        projection of the stored bucket columns (zero hashing). Serves
        LIVE state (handle refreshed, same contract as
        SignatureIndex.signatures)."""
        self.table.refresh()
        return self.table.read().select(
            "vec_id",
            F.posexplode(
                F.array(*[F.col(f"bucket_{b}") for b in range(self.n_bands)])
            ).alias("band", "bucket"),
        )

    def _bucket_cap(self, max_bucket: int | None) -> int:
        """``max_bucket``, or when None the default hot-bucket cap sized
        from the index's own manifest row stats (no count job)."""
        if max_bucket is not None:
            return max_bucket
        self.table.refresh()
        n_rows = sum(e["rows"] for e in self.table.snapshot["manifest"])
        return default_bucket_cap(n_rows, 2 ** self.n_planes)

    def ann_topk(
        self,
        *,
        n_queries: int = 5,
        k: int = 10,
        max_bucket: int | None = None,
    ) -> DataFrame:
        """Approximate top-k from the index alone — output-identical to
        ``ann.lsh_ann_topk`` over the same corpus and plane family (pinned
        by test), but with zero plane hashing and NO scan of the source
        embeddings table: candidates come from the stored (band, bucket)
        projection and exact cosines from the stored vectors. ``max_bucket``
        is the same candidate-side hot-bucket cap; ``None`` derives the
        default from the index's own manifest row stats (no count job)."""
        return _lsh_topk(
            self.tagged(), self.table.read(), k=k,
            max_bucket=self._bucket_cap(max_bucket), id_col="vec_id",
            vec_col="embedding", n_queries=n_queries,
        )

    def probe_topk(
        self,
        queries: DataFrame,
        *,
        k: int = 10,
        id_col: str = "query_id",
        vec_col: str = "embedding",
        max_bucket: int | None = None,
    ) -> DataFrame:
        """Top-k for EXTERNAL query vectors (not in the index): buckets are
        computed for the query set only (small — broadcast), candidates
        and exact cosines come from the index. The ingest-time "find my
        neighbors before committing" path: per-query-set cost is
        O(queries · hashing + index scan), not O(corpus · hashing)."""
        max_bucket = self._bucket_cap(max_bucket)
        qtag = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<float>").alias("qv"),
            F.posexplode(F.array(*self._bucket_cols(vec_col))).alias("band", "bucket"),
        )
        return _lsh_topk(
            self.tagged(), self.table.read(), k=k, max_bucket=max_bucket,
            id_col="vec_id", vec_col="embedding",
            queries=(qtag.select("query_id", "band", "bucket"),
                     qtag.select("query_id", "qv").distinct()),
        )
