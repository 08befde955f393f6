"""Record transformers: Spark-native re-expression of the reference's six
built-in transformers (registered at core/.../transport/transformer/
TransformerRegistry.java:204-215, executed per-record by
TransformerExchanger.java:65-138).

Semantics preserved exactly, quirks included:

- dx_filter DROPS the matching record (inverse of SQL WHERE) —
  FilterTransformer.java:51-105; its `like` is a full-match Java regex
  (String.matches, :375-395), so the Spark translation is rlike anchored
  with ^$ — NOT SQL LIKE.
- dx_substr errors when start > len in the reference (:66-70); we keep the
  reference's null-passthrough and clamp the overflow (:76-83).
- dx_pad pads to target length or TRUNCATES when longer —
  PadTransformer.java:45-123.
- dx_replace splices replaceString over [start, start+length) —
  ReplaceTransformer.java:45-97.
- dx_map applies {+,-,*,/,%} BigDecimal arithmetic on a numeric-string
  column — MapTransformer.java:51-118 (we use DecimalType(38,10)).
- dx_groovy (GroovyTransformer.java:49-124) has no translation: arbitrary
  per-record code is the anti-pattern; custom logic enters as vectorized
  pandas UDFs or column exprs.

Each transformer is (DataFrame, config) -> DataFrame; `chain` applies a list
in order, like the reference's per-record transformer chain.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OPS = {">": "__gt__", "<": "__lt__", ">=": "__ge__", "<=": "__le__", "=": "__eq__", "!=": "__ne__"}


def dx_filter(df: DataFrame, col: str, op: str, value) -> DataFrame:
    """Drop records matching the predicate (reference semantics: filter-OUT,
    FilterTransformer.java:51-105; 'like' = anchored Java-regex match).

    Null-field semantics preserved exactly (FilterTransformer.java:110-393):
    - >, >=, <, <=: null skips the comparison -> record KEPT (:110-113,185-188)
    - =  : null dropped iff the literal is "null" (case-insensitive), else
           kept (:269-277); non-null fields compare against the literal
    - != : null KEPT iff the literal is "null", else DROPPED (:327-335)
    - like: null kept (:375-384); not like: null DROPPED (:386-395)
    """
    c = F.col(col)
    is_null_literal = isinstance(value, str) and value.lower() == "null"
    if not is_null_literal and isinstance(value, str):
        # config paras arrive stringly (the reference's columns are stringly
        # typed); ANSI mode forbids implicit string<->numeric comparison, so
        # coerce the literal to the column's type — a malformed literal
        # raises, matching the reference's NumberFormatException
        dtype = dict(df.dtypes).get(col)
        if dtype and dtype != "string" and not dtype.startswith(("array", "struct", "map")):
            value = F.lit(value).cast(dtype)
    v = value if isinstance(value, Column) else F.lit(value)
    if op == "like":
        drop = c.isNotNull() & c.rlike(f"^(?:{value})$")
    elif op in ("not like", "notLike"):
        drop = c.isNull() | ~c.rlike(f"^(?:{value})$")
    elif op == "=":
        if is_null_literal:
            drop = c.isNull() | F.coalesce(c == v, F.lit(False))
        else:
            drop = F.coalesce(c == v, F.lit(False))
    elif op == "!=":
        if is_null_literal:
            drop = c.isNotNull() & F.coalesce(c != v, F.lit(False))
        else:
            drop = c.isNull() | F.coalesce(c != v, F.lit(False))
    elif op in _OPS:
        # null "skips comparison" -> kept
        drop = F.coalesce(getattr(c, _OPS[op])(v), F.lit(False))
    else:
        raise ValueError(f"dx_filter: unknown op {op!r}")
    return df.filter(~drop)


def dx_substr(df: DataFrame, col: str, start: int, length: int) -> DataFrame:
    """substring with overflow clamp (SubstrTransformer.java:51-102);
    0-based start as in the reference config."""
    c = F.col(col)
    return df.withColumn(
        col, F.when(c.isNull(), None).otherwise(F.substring(c, start + 1, length))
    )


def dx_pad(df: DataFrame, col: str, side: str, target_len: int, pad: str) -> DataFrame:
    """l/r pad to target length; longer values truncated
    (PadTransformer.java:45-123)."""
    c = F.col(col)
    padded = F.lpad(c, target_len, pad) if side == "l" else F.rpad(c, target_len, pad)
    return df.withColumn(col, F.when(c.isNull(), None).otherwise(padded))


def dx_replace(df: DataFrame, col: str, start: int, length: int, repl: str) -> DataFrame:
    """Splice repl over [start, start+length) (ReplaceTransformer.java:45-97).
    overlay() truncates at repl end; the reference keeps the tail — so an
    explicit concat of head + repl + tail."""
    c = F.col(col)
    spliced = F.concat(
        F.substring(c, 1, start),
        F.lit(repl),
        F.when(F.length(c) > start + length, F.expr(f"substring({col}, {start + length + 1})")).otherwise(F.lit("")),
    )
    return df.withColumn(col, F.when(c.isNull(), None).otherwise(spliced))


def dx_map(df: DataFrame, col: str, op: str, operand: str) -> DataFrame:
    """Decimal arithmetic on a numeric column (MapTransformer.java:51-118,
    BigDecimal ops in util/MathUtil.java:175-287). DecimalType(38,10) keeps
    exactness like BigDecimal; result rendered back to string like the
    reference's stringly columns."""
    c = F.col(col).cast("decimal(38,10)")
    o = F.lit(operand).cast("decimal(38,10)")
    if op == "^":
        # BigDecimal.pow with an integer exponent (MathUtil.java:96-101):
        # exact repeated decimal multiplication, not double pow
        k = int(operand)
        if not 0 <= k <= 32:
            raise ValueError(f"dx_map '^' exponent out of range: {k}")
        res = F.lit(1).cast("decimal(38,10)")
        for _ in range(k):
            res = (res * c).cast("decimal(38,10)")
        return df.withColumn(col, res)
    res = {
        "+": c + o,
        "-": c - o,
        "*": c * o,
        "/": c / o,
        "%": c % o,
    }[op]
    return df.withColumn(col, res)


@dataclass
class Transform:
    name: str
    args: tuple


_BUILTINS = {
    "dx_filter": dx_filter,
    "dx_substr": dx_substr,
    "dx_pad": dx_pad,
    "dx_replace": dx_replace,
    "dx_map": dx_map,
}


def chain(df: DataFrame, transforms: list[Transform]) -> DataFrame:
    """Apply transformers in order (the reference's chain evaluation,
    TransformerExchanger.java:65-138; a dropped record short-circuits)."""
    for t in transforms:
        df = _BUILTINS[t.name](df, *t.args)
    return df
