"""Time-series relational operators Spark lacks natively: as-of join,
metric pivot, sessionization.

- asof_join: composition of existing ops (SURVEY.md §2.5 strategy (a)) —
  union both sides on the series key, one window pass carries the latest
  right-side values forward, filter back to left rows. ONE shuffle on the
  key, no range explosion, no UDF; at 100 TB this beats the
  join-on-inequality plan (O(n*m) range join) by construction.
- pivot_metrics: the InfluxDB2 reader's range+pivot scan re-expressed
  (reference builds `pivot(rowKey:["_time"], columnKey:["_field"])` Flux,
  plugin/reader/influxdb2reader/.../InfluxDB2Reader.java:147-204): bucket +
  groupBy().pivot().sum. Sums run in DECIMAL so cross-engine results are
  exact regardless of accumulation order.
- sessionize: inactivity-gap sessions via lag + running sum (the batch
  equivalent of F.session_window; deterministic tie-break on a unique id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bucketize import bucket_start


def asof_join(
    left: DataFrame, right: DataFrame, keys: list[str], right_value_cols: list[str] | None = None
) -> DataFrame:
    """For each left row, attach the right row's values with the greatest
    right.ts <= left.ts per key (backward as-of; equality matches).

    Right side should be unique per (keys, ts) — dedupe upstream for a
    deterministic match. Output: all left columns + right value columns
    (prefixed `asof_`), null when no prior right row."""
    rv = right_value_cols or [c for c in right.columns if c not in keys + ["ts"]]
    lcols = [c for c in left.columns if c not in keys + ["ts"]]
    l_tag = left.select(
        *keys,
        F.col("ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in rv],
    )
    r_tag = right.select(
        *keys,
        F.col("ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_rv_{c}") for c in rv],
    )
    u = l_tag.unionByName(r_tag)
    # right rows (side 0) sort before left rows at equal ts -> equality joins
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = [F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in rv]
    return u.select(*keys, "ts", "_side", *lcols, *filled).filter(F.col("_side") == 1).drop("_side")


def pivot_metrics(df: DataFrame, tier: str, pivot_col: str, pivot_values: list[str]) -> DataFrame:
    """Bucketed metric pivot: one column per series/field, ``value`` summed
    per (user_id, bucket). DECIMAL accumulation -> exact, order-independent
    sums (cast to double on output: exact for the magnitudes involved)."""
    out = (
        df.withColumn("bucket_start", bucket_start("ts", tier))
        .groupBy("user_id", "bucket_start")
        .pivot(pivot_col, pivot_values)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")))
    )
    return out.select(
        "user_id", "bucket_start", *[F.col(v).cast("double").alias(v) for v in pivot_values]
    )


def sessionize(
    df: DataFrame, gap_s: int = 1800, key: str = "user_id", tie_col: str = "event_id"
) -> DataFrame:
    """Inactivity-gap sessionization: a new session starts when the gap from
    the previous event exceeds gap_s. Returns per-session stats."""
    w = Window.partitionBy(key).orderBy("ts", tie_col)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > gap_s * 1_000_000), 1).otherwise(0)
    with_id = df.withColumn(
        "session_idx",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_id.groupBy(key, "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (
                (F.unix_micros(F.max("ts").cast("timestamp"))
                 - F.unix_micros(F.min("ts").cast("timestamp"))) / F.lit(1_000_000.0)
            ).alias("duration_s"),
        )
    )


def rolling_metrics(df: DataFrame, window_s: int = 3600) -> DataFrame:
    """Trailing moving-window aggregates per event: for every row, the
    count / exact DECIMAL sum / exact-ratio avg / min / max of the user_id
    series' ``value`` in the last ``window_s`` seconds INCLUSIVE of the current row
    (window = (t - window_s, t], expressed as a RANGE frame over integer
    epoch-micros — the continuous-query staple the fixed tier buckets
    can't answer: "activity in the hour ending *now*", per event).

    One shuffle on the series key; the RANGE frame runs in a single sorted
    pass per series (no self-join / interval explosion). RANGE frames
    treat equal-timestamp rows as peers on every engine, so ties need no
    order tie-break for the aggregates to be deterministic. Sums
    accumulate in DECIMAL(18,2) (exact, order-independent) and avg is
    derived sum/count — bit-identical cross-engine (CLAUDE.md parity
    rules).
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-(window_s * 1_000_000 - 1), 0)
    )
    vdec = F.col("value").cast("decimal(18,2)")
    return df.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id"),
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum(vdec).over(w).cast("double").alias("sum_win"),
        (F.sum(vdec).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("avg_win"),
        F.min("value").over(w).alias("min_win"),
        F.max("value").over(w).alias("max_win"),
    )


def grouped_median(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Exact lower-median per group by ELEMENT SELECTION, not interpolation:
    the value at sorted position ceil(n/2) under the total order
    (value, id). Interpolated percentiles (Spark `percentile`, DuckDB
    `quantile_cont`) compute the midpoint in engine-specific expression
    order — a last-ulp hash hazard; selecting an actual element is
    bit-portable by construction. One shuffle on the group key, a single
    window pass (WindowGroupLimit-style early filter applies: rn is
    bounded by the filter).

    NULL values are excluded on both sides (standard SQL aggregate
    semantics) — they must never enter the rank: Spark windows default
    NULLS FIRST, DuckDB NULLS LAST, so a NULL in the order column shifts
    rank-ceil(n/2) differently per engine. The ordering is additionally
    pinned asc_nulls_last as defense in depth."""
    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(*keys).orderBy(
        F.col(value_col).asc_nulls_last(), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("_rn") == F.ceil(F.col("_n") / 2))
        .select(
            *keys,
            F.col(value_col).alias("median_value"),
            F.col("_n").alias("n"),
        )
    )
