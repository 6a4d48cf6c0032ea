"""Output checks, run outside the timed window. Each returns an error
string, empty when the output is correct."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkcdc import oracle


def replay_expected(wal: list[pa.Table]):
    """Final table state after ``wal``, from the single-threaded oracle."""
    return oracle.replay(pa.concat_tables(wal).to_pandas())


def table_error(table, expected) -> str:
    """The icebox table equals the oracle replay, row for row."""
    actual = table.read().toPandas()
    try:
        oracle.assert_table_equal(actual[list(expected.columns)], expected)
    except (AssertionError, KeyError) as exc:
        return f"table differs from oracle replay: {str(exc)[:300]}"
    return ""


def row_count_error(table, expected) -> str:
    """Live rows from the manifest (no Spark job) match the oracle."""
    n = sum(e["rows"] for e in table.snapshot["manifest"])
    return "" if n == len(expected) else f"table has {n} rows, oracle {len(expected)}"


def _same_rows(actual: DataFrame, expected: DataFrame, what: str) -> str:
    extra = actual.exceptAll(expected).count()
    missing = expected.exceptAll(actual).count()
    if extra or missing:
        return f"{what}: {extra} unexpected rows, {missing} missing rows"
    return ""


def packed_error(packed, table, seq_len: int) -> str:
    """The incrementally maintained packed table equals a one-shot
    ``pack_sequences`` over the final table."""
    from sparkcdc.packing import pack_sequences

    cols = [F.col("shard").cast("string"), F.col("seq_id").cast("long"),
            F.col("tokens"), F.col("n_tok").cast("long"), F.col("n_docs").cast("long")]
    expected = pack_sequences(
        table.read().select(F.col("source").alias("shard"), "doc_id", "tokens"),
        seq_len, tokens_col="tokens", id_col="doc_id", shard_col="shard",
    )
    return _same_rows(packed.chunks().select(*cols), expected.select(*cols),
                      "packed table")


def aggview_error(view, table) -> str:
    """The incrementally maintained rollup equals a direct GROUP BY."""
    expected = table.read().groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
    )
    actual = view.read().select(
        "source", *[F.col(c).cast("long").alias(c) for c in ("n_docs", "sum_tok")]
    )
    return _same_rows(actual, expected, "aggregate view")


def pairs_error(got: set, expected: set, what: str) -> str:
    if got == expected:
        return ""
    return (f"{what}: {len(got)} pairs, expected {len(expected)} "
            f"({len(got - expected)} unexpected, {len(expected - got)} missing)")
