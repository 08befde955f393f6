"""Continuous-aggregate tier rollups (1m/5m/1h/1d) with exact `last` semantics.

The analytic layer the reference lacks entirely (SURVEY.md §2.5: Addax has no
joins/aggregations — the closest artifacts are the InfluxDB2 pivot query,
InfluxDB2Reader.java:147-204, and TDengine time-bucket splits,
TDengineReader.java:124-141). Built natively on Spark groupBy/agg so Catalyst
plans partial (map-side) + final aggregation — one shuffle per tier, and the
cascade re-aggregates tier N from tier N-1 instead of rescanning raw data
(the "continuous aggregate" pattern: 5m buckets = exact merge of five 1m
buckets because 60 | 300 | 3600 | 86400).

Determinism contract (BASELINE.json: "exact rolled-up point parity"):
- `last` = row with max (ts, turn_idx): max_by over a struct key — total
  order, ties broken by turn_idx, identical at any parallelism.
- avg is DERIVED (sum/count on exact int64) rather than engine avg(), so the
  double result is bit-identical across engines and accumulation orders.

Plan audit (see PLANS.md): the struct-keyed max_by puts a struct in the
aggregation buffer, so Spark plans SortAggregate instead of HashAggregate.
Measured alternatives on 2.8M rows / 8 cores: packed-int64 key (bounds
turn_idx to 2^26) — still SortAggregate because last_text's string buffer
also blocks hash agg, ~5% faster, not worth the bound; numeric-only agg +
join-back for last_text — 1.6x SLOWER (extra join pass). SortAggregate
still does map-side partial aggregation, so the shuffle carries one row per
(key, bucket, map partition) either way; the sort is per already-small
partial groups. Struct key kept deliberately.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import ROLLUP
from .bucketize import TIER_ORDER, TIERS, bucket_start

#: columns of a tier table
ROLLUP_COLS = ROLLUP.fieldNames()


def rollup_from_raw(
    df: DataFrame,
    tier: str,
    value: Column | None = None,
    key: str = "conv_id",
) -> DataFrame:
    """Aggregate raw transcripts into one tier directly.

    ``value`` defaults to ``length(text)`` (int64 — keeps sum/avg exact).
    One shuffle on (key, bucket); partial aggregation is map-side so the
    shuffle carries one row per (key, bucket, map-partition), not raw turns.
    """
    v = (value if value is not None else F.length("text")).cast("long")
    ord_key = F.struct(F.col("ts"), F.col("turn_idx"))
    out = (
        df.withColumn("bucket_start", bucket_start("ts", tier))
        .groupBy(key, "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum(v).alias("sum_len"),
            F.min(v).alias("min_len"),
            F.max(v).alias("max_len"),
            F.max_by(F.col("ts"), ord_key).alias("last_ts"),
            F.max_by(F.col("turn_idx"), ord_key).alias("last_turn_idx"),
            F.max_by(F.col("text"), ord_key).alias("last_text"),
        )
    )
    return _with_avg(out).select(*_cols(key))


def _merge_aggs() -> list[Column]:
    """Partial/final merge of tier rows: count/sum -> sum of partials;
    min/max -> min/max of partials; last -> max_by on (last_ts,
    last_turn_idx). avg is rederived from the merged sums by the caller."""
    ord_key = F.struct(F.col("last_ts"), F.col("last_turn_idx"))
    return [
        F.sum("turn_count").alias("turn_count"),
        F.sum("sum_len").alias("sum_len"),
        F.min("min_len").alias("min_len"),
        F.max("max_len").alias("max_len"),
        F.max_by(F.col("last_ts"), ord_key).alias("last_ts"),
        F.max_by(F.col("last_turn_idx"), ord_key).alias("last_turn_idx"),
        F.max_by(F.col("last_text"), ord_key).alias("last_text"),
    ]


def _with_avg(df: DataFrame) -> DataFrame:
    return df.withColumn("avg_len", F.col("sum_len").cast("double") / F.col("turn_count"))


def rollup_cascade_step(lower: DataFrame, tier: str, key: str = "conv_id") -> DataFrame:
    """Exact re-aggregation of a coarser tier from the next finer tier table.

    The classic partial/final agg merge (:func:`_merge_aggs`) — at 100 TB
    the 5m/1h/1d tiers never touch raw data again.
    """
    out = (
        lower.withColumn("bucket_start2", bucket_start("bucket_start", tier))
        .groupBy(key, "bucket_start2")
        .agg(*_merge_aggs())
        .withColumnRenamed("bucket_start2", "bucket_start")
    )
    return _with_avg(out).select(*_cols(key))


def rollup_tiers(
    df: DataFrame,
    tiers: list[str] | None = None,
    value: Column | None = None,
    key: str = "conv_id",
) -> DataFrame:
    """Every tier from ONE plan, as one long table: ``ROLLUP_COLS + tier``.

    Raw rows are rolled up once into the finest tier; each finest-tier row
    is then exploded once per tier with its ``bucket_start`` floored to that
    tier, and a single merge aggregate keyed on (key, tier, bucket_start)
    builds all tiers at once. Coarser tiers still read only finest-tier
    partials, never raw rows. Over an input hash-partitioned on ``key``
    both aggregates are exchange-free, so the whole plan has no exchange
    above that one — no per-tier cache, no per-tier action.
    """
    tiers = tiers or TIER_ORDER
    widths = [TIERS[t] for t in tiers]
    assert all(b > a and b % a == 0 for a, b in zip(widths, widths[1:])), (
        f"tiers must go finest-first, each width dividing the next: {tiers}"
    )
    fan = F.inline(
        F.array(*[
            F.struct(F.lit(t).alias("tier"), bucket_start("bucket_start", t).alias("bucket_start"))
            for t in tiers
        ])
    )
    out = (
        rollup_from_raw(df, tiers[0], value, key)
        .select(key, fan, *ROLLUP_COLS[2:])
        .groupBy(key, "tier", "bucket_start")
        .agg(*_merge_aggs())
    )
    return _with_avg(out).select(*_cols(key), "tier")


def rollup_all_tiers(
    df: DataFrame,
    tiers: list[str] | None = None,
    value: Column | None = None,
    key: str = "conv_id",
) -> dict[str, DataFrame]:
    """Build every tier: raw -> 1m, then cascade 1m -> 5m -> 1h -> 1d.

    Only the 1m rollup reads raw turns; each coarser tier aggregates the
    previous one (≥60x smaller input per step at scale).
    """
    tiers = tiers or TIER_ORDER
    assert tiers == sorted(tiers, key=lambda t: TIERS[t])
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for t in tiers:
        cur = rollup_from_raw(df, t, value, key) if prev is None else rollup_cascade_step(prev, t, key)
        out[t] = cur
        prev = cur
    return out


def _cols(key: str) -> list:
    cols = list(ROLLUP_COLS)
    cols[0] = key
    return cols
