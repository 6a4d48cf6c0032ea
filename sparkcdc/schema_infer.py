"""Schema guess + mid-stream evolution (SURVEY.md §3.3, §2.8 T6).

Guess: the reference samples 50 issues, unions flattened attribute keys
into a sorted set, and infers types per column
(/root/reference/src/main/java/org/embulk/input/jira/JiraInputPlugin.java:182-220,
Constant.java:7). Here the flatten walker produces the dotted leaves from
the *schema* (metadata-only), and types map from Spark types; timestamp
format detection inspects up to ``sample_n`` values driver-side — the
analog of embulk-util-guess's format matcher.

Evolution: detect added columns / widened types between an incoming batch
and the table schema, and apply them as an icebox schema-update commit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .flatten import flatten_df, flatten_fields

GUESS_RECORDS_COUNT = 50  # Constant.java:7

# (regex, strftime format) — ordered, first match wins. Coverage modeled on
# embulk-util-guess's timestamp matcher (the reference delegates to it at
# JiraInputPlugin.java:188): ISO-8601 with/without millis/zone, space
# separated with/without zone, date-only in -, / and . spellings, and
# unix epoch seconds (range-checked, below).
_TS_PATTERNS = [
    (re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}[+-]\d{4}$"), "%Y-%m-%dT%H:%M:%S.%L%z"),
    (re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}[+-]\d{4}$"), "%Y-%m-%dT%H:%M:%S%z"),
    (re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} [+-]\d{4}$"), "%Y-%m-%d %H:%M:%S %z"),
    (re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3}$"), "%Y-%m-%d %H:%M:%S.%L"),
    (re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"), "%Y-%m-%d %H:%M:%S"),
    (re.compile(r"^\d{4}-\d{2}-\d{2}$"), "%Y-%m-%d"),
    (re.compile(r"^\d{4}/\d{2}/\d{2}$"), "%Y/%m/%d"),
    (re.compile(r"^\d{2}/\d{2}/\d{4}$"), "%d/%m/%Y"),
    (re.compile(r"^\d{4}\.\d{2}\.\d{2}$"), "%Y.%m.%d"),
]

# unix epoch: all-digit strings inside a sane range
# (2000-01-01 .. 2039-12-31) guess as timestamp — 10 digits as seconds
# ('%s'), 13 digits as milliseconds ('%Q')
_EPOCH_RE = re.compile(r"^\d{10}$")
_EPOCH_MS_RE = re.compile(r"^\d{13}$")
_EPOCH_LO, _EPOCH_HI = 946_684_800, 2_208_988_800


def _base_guess(dtype: T.DataType, kind: str) -> str:
    if kind in ("json",):
        return "json"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "long"
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "double"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "timestamp"
    if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        return "json"
    return "string"


def guess_columns(sample: DataFrame, sample_n: int = GUESS_RECORDS_COUNT) -> list[dict]:
    """Column specs [{name, type, format?}] for the flattened sample,
    lexicographically sorted (TreeSet contract, JiraInputPlugin.java:195-201)."""
    fields = flatten_fields(sample.schema)
    flat = flatten_df(sample.limit(sample_n))
    specs: list[dict] = []
    string_cols = [f.name for f in fields if isinstance(f.dtype, T.StringType) and f.kind == "value"]
    sampled: dict[str, list] = {}
    if string_cols:
        rows = flat.select(*[f"`{c}`" for c in string_cols]).limit(sample_n).collect()
        for c in string_cols:
            sampled[c] = [r[c] for r in rows if r[c] is not None]
    for f in sorted(fields, key=lambda f: f.name):
        typ = _base_guess(f.dtype, f.kind)
        spec = {"name": f.name, "type": typ}
        if typ == "string" and sampled.get(f.name):
            vals = sampled[f.name]
            for rx, fmt in _TS_PATTERNS:
                if all(rx.match(v) for v in vals):
                    spec = {"name": f.name, "type": "timestamp", "format": fmt}
                    break
            else:
                if all(
                    _EPOCH_RE.match(v) and _EPOCH_LO <= int(v) < _EPOCH_HI
                    for v in vals
                ):
                    spec = {"name": f.name, "type": "timestamp", "format": "%s"}
                elif all(
                    _EPOCH_MS_RE.match(v)
                    and _EPOCH_LO * 1000 <= int(v) < _EPOCH_HI * 1000
                    for v in vals
                ):
                    spec = {"name": f.name, "type": "timestamp", "format": "%Q"}
        specs.append(spec)
    return specs


# ---------------- evolution ----------------

# the one widening rule: IceboxTable.update_schema enforces it for every
# table (source, packed, aggregate view), detect_evolution merges by it
_WIDEN_OK = {
    ("int", "bigint"), ("smallint", "int"), ("smallint", "bigint"),
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("float", "double"), ("int", "double"), ("bigint", "double"),
    # string → timestamp: the dynamic_schema re-guess upgrades a string
    # column only when every sampled value matched a timestamp format
    ("string", "timestamp"),
}


def _widened(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of a/b if (a,b) is a legal widening pair, else None."""
    if a.simpleString() == b.simpleString():
        return a
    if (a.simpleString(), b.simpleString()) in _WIDEN_OK:
        return b
    if (b.simpleString(), a.simpleString()) in _WIDEN_OK:
        return a
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        el = _widened(a.elementType, b.elementType)
        return T.ArrayType(el) if el is not None else None
    return None


def detect_evolution(
    table_schema: T.StructType,
    batch_schema: T.StructType,
    *,
    ignore: set[str] = frozenset(),
) -> tuple[T.StructType | None, list[str]]:
    """Compare schemas; return (evolved schema, change descriptions) or
    (None, []) when no evolution is needed. Incompatible changes raise."""
    changes: list[str] = []
    out: list[T.StructField] = []
    batch_fields = {f.name: f for f in batch_schema.fields if f.name not in ignore}
    for f in table_schema.fields:
        b = batch_fields.pop(f.name, None)
        if b is None:
            out.append(f)
            continue
        w = _widened(f.dataType, b.dataType)
        if w is None:
            raise ValueError(
                f"incompatible schema change for column {f.name}: "
                f"{f.dataType.simpleString()} vs {b.dataType.simpleString()}"
            )
        if w.simpleString() != f.dataType.simpleString():
            changes.append(f"widen {f.name}: {f.dataType.simpleString()} -> {w.simpleString()}")
        out.append(T.StructField(f.name, w, True))
    for name, f in batch_fields.items():
        changes.append(f"add column {name}: {f.dataType.simpleString()}")
        out.append(T.StructField(name, f.dataType, True))
    if not changes:
        return None, []
    return T.StructType(out), changes
