"""Synthetic CDC change-log: deterministic generation + micro-batch scans.

The reference pulls pages of ≤50 issues by offset
(/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:154-163,
client/JiraClient.java:67-89). Here the "API" is an ordered change log with
LSN-style ``seq``; a micro-batch is the slice ``(lo, hi]`` — the Spark-native
replacement for offset pagination (SURVEY.md §2.1 S1-S4).

Generation is fully distributed and purely columnar: every field is a pure
function of (seed, seq) via xxhash64, so any slice of the log is
reproducible on any executor without coordination — this is what lets the
same generator describe a 10^10-event log (plan-only; nothing materialized
until an action) and a 10^4-event unit-test log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Log schema v1 (FIXTURES.md §2); v2 adds `lang` and widens n_tok to int64.
LOG_COLUMNS_V1 = ["seq", "op", "doc_id", "tokens", "n_tok", "source", "ts"]
LOG_COLUMNS_V2 = LOG_COLUMNS_V1 + ["lang"]

VOCAB_SIZE = 50_000
_BASE_TS = "2024-01-01 00:00:00"


def _h(seed: int, tag: str, *cols) -> F.Column:
    """Deterministic per-row hash stream (non-negative)."""
    return F.abs(F.xxhash64(F.lit(int(seed)), F.lit(tag), *cols))


def generate_changelog(
    spark: SparkSession,
    n_events: int,
    n_docs: int,
    seed: int = 42,
    *,
    hot_key_pct: int = 0,
    delete_pct: int = 10,
    dup_pct: int = 0,
    shuffled: bool = False,
    schema_version: int = 1,
    max_tokens: int = 24,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic change log of ``n_events`` over ``n_docs`` keys.

    hot_key_pct  : % of events hitting the single hot key DOC-0 (skew tests).
    dup_pct      : % of events re-delivered verbatim (at-least-once delivery,
                   the analog of the reference's retry re-fetch,
                   client/JiraClient.java:94-147).
    shuffled     : randomize physical row order (out-of-order delivery).
    """
    base = spark.range(0, n_events, 1, num_partitions) if num_partitions else spark.range(n_events)
    seq = (F.col("id") + 1).alias("seq")
    df = base.select(seq)

    hot = _h(seed, "hot", F.col("seq")) % 100 < F.lit(hot_key_pct)
    doc_idx = F.when(hot, F.lit(0)).otherwise(_h(seed, "doc", F.col("seq")) % F.lit(n_docs))
    op_roll = _h(seed, "op", F.col("seq")) % 100
    op = (
        F.when(op_roll < F.lit(delete_pct), F.lit("delete"))
        .when(op_roll < F.lit(delete_pct + 30), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    n_tok = (_h(seed, "ntok", F.col("seq")) % F.lit(max_tokens) + 1).cast("int")
    df = df.select(
        "seq",
        op.alias("op"),
        F.concat(F.lit("DOC-"), F.lpad(doc_idx.cast("string"), 8, "0")).alias("doc_id"),
        n_tok.alias("n_tok"),
    )
    tokens = F.transform(
        F.sequence(F.lit(0), F.col("n_tok") - 1),
        lambda i: (_h(seed, "tok", F.col("seq"), i) % VOCAB_SIZE).cast("int"),
    )
    df = df.select(
        "seq",
        "op",
        "doc_id",
        F.when(F.col("op") == "delete", F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(F.col("op") == "delete", F.lit(None)).otherwise(F.col("n_tok")).alias("n_tok"),
        F.concat(F.lit("src"), (_h(seed, "src", F.col("seq")) % 5).cast("string")).alias("source"),
        (F.to_timestamp(F.lit(_BASE_TS)) + F.make_interval(secs=F.col("seq").cast("double"))).alias("ts"),
    )
    if schema_version >= 2:
        df = df.select(
            "seq", "op", "doc_id", "tokens",
            F.col("n_tok").cast("long").alias("n_tok"),
            "source", "ts",
            F.element_at(F.array(F.lit("en"), F.lit("es"), F.lit("de"), F.lit("fr"), F.lit("zh")),
                         (_h(seed, "lang", F.col("seq")) % 5 + 1).cast("int")).alias("lang"),
        )
    if dup_pct:
        dups = df.where(_h(seed, "dup", F.col("seq")) % 100 < F.lit(dup_pct))
        df = df.unionByName(dups)
    if shuffled:
        df = df.repartition(df.rdd.getNumPartitions() or 8, _h(seed, "shuf", F.col("seq")))
    return df


def scan_slice(log: DataFrame, lo: int, hi: int, *, seq_col: str = "seq") -> DataFrame:
    """Micro-batch scan of the half-open LSN range (lo, hi].

    The engine analog of one `searchIssues(task, startAt, maxResults)` page
    (client/JiraClient.java:67-84) — but evaluated as a pushed-down parquet /
    plan predicate, not a blocking round trip.
    """
    return log.where((F.col(seq_col) > F.lit(lo)) & (F.col(seq_col) <= F.lit(hi)))


def max_seq(log: DataFrame, *, seq_col: str = "seq") -> int:
    """Count-probe analog (client/JiraClient.java:86-89): cheap max-LSN probe
    used for batch planning instead of a total-count request."""
    row = log.agg(F.max(seq_col).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0


def _footer_stats(path: str, cols: list[str]) -> list[dict]:
    """One threaded walk over the parquet footers under ``path`` — no
    Spark job, no data scan; microseconds per file. Per file, each of
    ``cols`` maps to its row groups' ``(max, null_count)`` statistics (an
    entry is None where the footer lacks it), or to None when the file has
    no such column. [] when there is no parquet file."""
    import glob as _glob
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def walk(fpath: str) -> dict:
        md = pq.ParquetFile(fpath).metadata
        idx = {md.schema.column(j).name: j for j in range(md.num_columns)}

        def groups(j: int) -> list:
            out = []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                out.append((None, None) if st is None else
                           (st.max if st.has_min_max else None, st.null_count))
            return out

        return {c: groups(idx[c]) if c in idx else None for c in cols}

    files = _glob.glob(_os.path.join(path, "*.parquet"))
    with ThreadPoolExecutor(max_workers=16) as ex:
        return list(ex.map(walk, files))


def max_seq_parquet_stats(path: str, *, seq_col: str = "seq") -> int | None:
    """Max LSN from parquet footer min/max statistics (``_footer_stats``):
    a fixed driver cost per run instead of a full-column scan, and
    independent of cluster size. Returns None when any file lacks the
    statistics (caller falls back to a scan)."""
    per_file = [f[seq_col] for f in _footer_stats(path, [seq_col])]
    if not per_file or any(not g or any(mx is None for mx, _ in g) for g in per_file):
        return None
    return max(mx for g in per_file for mx, _ in g)


def null_counts_parquet_stats(path: str, cols: list[str]) -> dict:
    """Per-column null counts from parquet footer statistics
    (``_footer_stats``). A column maps to None when any file lacks
    null-count statistics for it, or is absent from a file's schema; the
    caller then falls back to a scan. Lets a clean WAL prove itself clean
    for the cost of reading O(files) footers."""
    per_file = _footer_stats(path, cols)

    def total(c: str) -> int | None:
        if not per_file or any(f[c] is None for f in per_file):
            return None
        counts = [n for f in per_file for _, n in f[c]]
        return None if None in counts else sum(counts)

    return {c: total(c) for c in cols}


def _scan_json_max_by_file(spark: SparkSession, files: list[str], schema,
                           seq_col: str) -> dict[str, int]:
    """One Spark job over ONLY the given JSON segment files → per-file max
    LSN (grouped by input_file_name)."""
    from urllib.parse import unquote, urlparse

    df = spark.read.schema(schema).json(files)
    rows = (
        df.groupBy(F.input_file_name().alias("_f"))
        .agg(F.max(seq_col).alias("mx"))
        .collect()
    )
    out: dict[str, int] = {}
    for r in rows:
        p = r["_f"]
        if "://" in p or p.startswith("file:"):
            p = unquote(urlparse(p).path)
        out[os.path.abspath(p)] = int(r["mx"]) if r["mx"] is not None else 0
    return out


def max_seq_json_stats(
    spark: SparkSession,
    path: str,
    schema,
    cache_path: str,
    *,
    seq_col: str = "seq",
) -> int | None:
    """Planning-time max LSN for a JSON-lines WAL without a per-run full
    scan: a driver-side sidecar caches (mtime, size) → max-LSN per segment
    file; only NEW or CHANGED segments are scanned (one bounded Spark job),
    and an unchanged WAL plans from the cache with zero jobs — the JSON
    analog of the parquet footer-stats fast path. Returns None when the
    directory holds no JSON segments (caller falls back to a scan)."""
    import glob as _glob
    import json as _json
    import uuid as _uuid

    files = sorted(
        _glob.glob(os.path.join(path, "*.json"))
        + _glob.glob(os.path.join(path, "*.jsonl"))
    )
    if not files:
        return None
    cache: dict = {}
    if os.path.exists(cache_path):
        try:
            with open(cache_path) as fh:
                cache = _json.load(fh)
        except (OSError, ValueError):
            cache = {}

    def sig(f: str) -> list:
        st = os.stat(f)
        return [st.st_mtime, st.st_size]

    fresh: dict[str, dict] = {}
    stale: list[str] = []
    for f in files:
        fp = os.path.abspath(f)
        ent = cache.get(fp)
        if ent and ent.get("sig") == sig(f):
            fresh[fp] = ent
        else:
            stale.append(fp)
    if stale:
        scanned = _scan_json_max_by_file(spark, stale, schema, seq_col)
        for fp in stale:
            fresh[fp] = {"sig": sig(fp), "max_seq": scanned.get(fp, 0)}
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = f"{cache_path}.tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        _json.dump(fresh, fh)
    os.replace(tmp, cache_path)
    return max(e["max_seq"] for e in fresh.values())


def write_log_parquet(log: DataFrame, path: str, *, partitions: int | None = None,
                      seq_col: str = "seq") -> None:
    """Materialize a generated log as the on-disk WAL the engine tails.

    Segments are range-partitioned and sorted by the LSN column — like a
    real binlog/WAL — so each file covers a disjoint LSN range and a
    micro-batch slice scan prunes whole files via parquet min/max stats
    instead of scanning the full log."""
    out = log.repartitionByRange(partitions, seq_col) if partitions else log.repartitionByRange(seq_col)
    out.sortWithinPartitions(seq_col).write.mode("overwrite").parquet(path)


LOG_SCHEMA_DDL_V1 = (
    "seq bigint, op string, doc_id string, tokens array<int>, "
    "n_tok int, source string, ts timestamp"
)


def read_log(spark: SparkSession, path: str, *, fmt: str = "parquet",
             schema: str | None = None) -> DataFrame:
    """Open a WAL directory as a DataFrame. ``parquet`` is the fast path;
    ``json`` (JSON-lines, one event per line — the reference's native wire
    format, client/JiraClient.java:70) needs an explicit schema so a typo'd
    field lands as NULL instead of silently inferring a different type."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        return spark.read.schema(schema or LOG_SCHEMA_DDL_V1).json(path)
    raise ValueError(f"unknown log format: {fmt}")
