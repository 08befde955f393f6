"""Gap-fill over rollup tiers: dense bucket spine + LOCF / linear interpolation.

Composition of built-in ops (SURVEY.md §4 "custom Spark work actually
needed"): ``sequence``/``explode`` build the per-series dense bucket spine, a
left join aligns observed points, and window functions fill the holes —
no UDFs, fully codegen'd.

Scale notes:
- The spine explode is bounded per series by (max_bucket - min_bucket)/step;
  callers processing long retention windows should pass an explicit
  [start, end) window (normal at 100 TB: gap-fill is a query-time op over a
  bounded range, not a whole-history rewrite).
- The join key (conv_id, bucket_start) matches the rollup's grouping key, so with the
  spine derived from the same tier table AQE plans a cheap join; the
  subsequent windows reuse the conv_id-hash partitioning.

Determinism: LOCF copies exact values; linear interpolation is the literal
IEEE expression ``prev + (next - prev) * ((b - pb) / (nb - pb))`` on doubles
whose inputs derive from exact integers — the oracle mirrors the same
expression shape, so results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .bucketize import TIERS, bucket_start


def bucket_spine(
    df: DataFrame,
    tier: str,
    start: Column | None = None,
    end: Column | None = None,
    universe: DataFrame | None = None,
) -> DataFrame:
    """One row per (conv_id, bucket_start) for every `tier` bucket in the
    series range.

    Range defaults to [min(bucket), max(bucket)] per series; pass ``start``/
    ``end`` literals to gap-fill a fixed window instead (cheaper + aligned
    output across series).

    ``universe`` (distinct conv_id rows) decouples WHICH series get a spine from
    the tier table itself: with a fixed window the caller can aggregate only
    [start, end) — the 100 TB-friendly plan — while still spining series that
    have no observation inside the window (they come back as all-gap rows).
    Deriving the universe from a key-pruned column scan costs one distinct
    over one column instead of a full-history rollup.
    """
    step = TIERS[tier]
    lo = start if start is not None else F.min("bucket_start")
    hi = end if end is not None else F.max("bucket_start")
    if universe is not None:
        if start is None or end is None:
            raise ValueError("universe requires explicit start/end bounds")
        bounds = universe.select("conv_id").distinct().select(
            "conv_id", lo.alias("_lo"), hi.alias("_hi")
        )
    else:
        bounds = df.groupBy("conv_id").agg(lo.alias("_lo"), hi.alias("_hi"))
    return bounds.select(
        "conv_id",
        F.explode(
            F.sequence("_lo", "_hi", F.expr(f"interval {step} seconds"))
        ).alias("bucket_start"),
    )


def gapfill(
    df: DataFrame,
    tier: str,
    value_cols: list[str],
    methods: tuple[str, ...] = ("locf", "linear"),
    start: Column | None = None,
    end: Column | None = None,
    universe: DataFrame | None = None,
) -> DataFrame:
    """Densify a tier table and fill missing buckets.

    Output columns: conv_id, bucket_start, ``fill_method`` ('observed' | 'gap'),
    original value_cols (null on gap rows), and per method m in ``methods``
    a ``{col}_{m}`` column per value col.

    - locf: last observed value at or before the bucket (leading gaps stay
      null).
    - linear: straight line between the previous and next observed points,
      weighted by bucket distance; leading/trailing gaps stay null (no
      extrapolation).
    """
    spine = bucket_spine(df, tier, start, end, universe)
    marked = df.withColumn("_obs", F.lit(1))
    full = spine.join(marked, on=["conv_id", "bucket_start"], how="left")

    w = Window.partitionBy("conv_id").orderBy("bucket_start")
    w_back = w.rowsBetween(Window.unboundedPreceding, 0)
    # "next observed" is expressed as a RUNNING frame over DESCENDING bucket
    # order, not first_value over (0, unboundedFollowing): Spark executes an
    # UnboundedFollowing frame by re-aggregating the partition remainder for
    # EVERY row — O(n^2) per series (measured 13x on the gapfill_1m entry:
    # 7.7s -> 0.6s at sf0.1) — while a running frame is incremental O(n).
    # Same exchange (identical partitioning), one extra in-partition sort.
    w_fwd_run = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("bucket_start").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b_us = F.unix_micros(F.col("bucket_start").cast("timestamp"))

    out = full.withColumn(
        "fill_method", F.when(F.col("_obs").isNotNull(), "observed").otherwise("gap")
    )
    for c in value_cols:
        obs_val = F.when(F.col("_obs").isNotNull(), F.col(c))
        if "locf" in methods:
            out = out.withColumn(f"{c}_locf", F.last(obs_val, ignorenulls=True).over(w_back))
        if "linear" in methods:
            prev_v = F.last(obs_val, ignorenulls=True).over(w_back)
            prev_b = F.last(F.when(F.col("_obs").isNotNull(), b_us), ignorenulls=True).over(w_back)
            next_v = F.last(obs_val, ignorenulls=True).over(w_fwd_run)
            next_b = F.last(F.when(F.col("_obs").isNotNull(), b_us), ignorenulls=True).over(w_fwd_run)
            frac = (b_us - prev_b).cast("double") / (next_b - prev_b).cast("double")
            interp = F.when(
                F.col("_obs").isNotNull(), F.col(c).cast("double")
            ).otherwise(
                prev_v.cast("double") + (next_v.cast("double") - prev_v.cast("double")) * frac
            )
            out = out.withColumn(f"{c}_linear", interp)
    return out.drop("_obs")
