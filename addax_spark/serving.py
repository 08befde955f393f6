"""Query-time serving over the rollup outputs: tier selection from the
tiers still on disk, range reads of exactly the date partitions a query
covers (pinned schema, no inference job), optional gap-fill, and chunk
decode for raw-resolution reads.

This is the "user switches to your repo" surface: given a job's
output_root, answer range queries without knowing the layout.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs
from .job import read_dates
from .operators.bucketize import TIER_ORDER, TIERS
from .operators.gapfill import gapfill
from .operators.gorilla import decode_chunks
from .retention import tier_root
from .schema import CHUNKS, ROLLUP


def read_tier(spark: SparkSession, output_root: str, tier: str) -> DataFrame:
    """Every retained date of one tier, with its ``tier`` and ``date``
    partition columns."""
    return read_dates(spark, tier_root(output_root, tier), ROLLUP).withColumn(
        "tier", F.lit(tier)
    )


def query_range(
    spark: SparkSession,
    output_root: str,
    t0: str,
    t1: str,
    conv_ids: list[str] | None = None,
    tier: str | None = None,
    fill: str | None = None,  # None | 'locf' | 'linear'
) -> DataFrame:
    """Rolled-up points for [t0, t1), served from an explicit tier or, with
    ``tier=None``, from the finest tier still holding the range's start.

    Coarser tiers age in as finer ones expire, so the ladder is read from
    disk: the first tier of ``TIER_ORDER`` whose oldest ``date=`` is on or
    before t0's date (or before the oldest date any tier holds, when t0
    precedes them all). With no tier on disk it is ``TIER_ORDER[0]``, which
    serves an empty frame.

    Only the tier's date partitions inside the range are read;
    conv_id predicates push into the parquet scan. Gap-fill, when asked,
    densifies exactly the requested window (aligned output across convs).
    """
    if tier is None:
        oldest = {t: ds[0] for t in TIER_ORDER if (ds := fs.list_dates(tier_root(output_root, t)))}
        start = max(t0[:10], min(oldest.values(), default=""))
        tier = next((t for t, d in oldest.items() if d <= start), TIER_ORDER[0])
    df = read_dates(
        spark, tier_root(output_root, tier), ROLLUP, t0[:10], t1[:10]
    ).filter((F.col("bucket_start") >= t0) & (F.col("bucket_start") < t1))
    if conv_ids:
        df = df.filter(F.col("conv_id").isin(conv_ids))
    df = df.drop("date")
    if fill:
        # floor the spine bounds to the served tier's bucket grid: an
        # unaligned t0 (e.g. ...:00:30 against a 1m tier, or any sub-day t0
        # when the ladder picked 1d) would otherwise miss every stored
        # bucket_start and return all-gap rows. Last spine bucket = the
        # bucket containing t1 - 1us (bucket_start strictly < t1).
        step = TIERS[tier]
        df = gapfill(
            df,
            tier,
            ["avg_len"],
            methods=(fill,),
            start=F.to_timestamp(F.lit(_floor_to_step(t0, step))),
            end=F.to_timestamp(F.lit(_floor_to_step(t1, step, minus_us=1))),
        )
    return df


def _floor_to_step(ts: str, step_s: int, minus_us: int = 0) -> str:
    """ISO timestamp floored to a step-second bucket grid (UTC, integer us)."""
    d = dt.datetime.fromisoformat(ts).replace(tzinfo=dt.timezone.utc)
    us = (int(d.timestamp()) * 1_000_000 + d.microsecond) - minus_us
    us -= us % (step_s * 1_000_000)
    return dt.datetime.fromtimestamp(us // 1_000_000, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def read_points(
    spark: SparkSession,
    output_root: str,
    t0: str,
    t1: str,
    conv_ids: list[str] | None = None,
) -> DataFrame:
    """Raw-resolution point series decoded from Gorilla chunks for [t0, t1).

    Only the chunk date partitions inside the range are read; their chunks
    are decoded (chunk-parallel), then point-filtered to the exact bounds.
    """
    ch = read_dates(spark, f"{output_root}/chunks", CHUNKS, t0[:10], t1[:10])
    if conv_ids:
        ch = ch.filter(F.col("conv_id").isin(conv_ids))
    pts = decode_chunks(ch)
    return pts.filter((F.col("ts") >= t0) & (F.col("ts") < t1))
