"""Seeded inputs for the three workloads, generated with ``synth.transcripts``.

- flat: one skewed transcripts table (1% of conversations hot, ~30% of the
  turns), written as plain parquet files: the job discovers its days by a
  scan.
- dense (traced run only): a few long conversations with their turns
  squeezed closer in time, so day-chunks hold thousands of points.
- daily: a date-partitioned landing zone. Each conversation is shifted to
  a start day drawn from a hash of its id, so every ``date=`` partition holds
  about the same number of conversations. Days are staged up front; a write
  step lands one by renaming its directory.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from addax_spark import synth

EPOCH_DAY = dt.date.fromisoformat(synth.EPOCH[:10])


def day_name(k: int) -> str:
    return (EPOCH_DAY + dt.timedelta(days=k)).isoformat()


def write_flat(spark, path: str, seed: int, n_convs: int, avg_turns: int, parts: int) -> None:
    synth.transcripts(
        spark, n_convs=n_convs, avg_turns=avg_turns, seed=seed, partitions=parts
    ).coalesce(parts).write.parquet(path)


def write_dense(
    spark, path: str, seed: int, n_convs: int, avg_turns: int, squeeze: int, parts: int
) -> None:
    """Transcripts whose time offsets from the epoch are divided by
    ``squeeze``: the same turns, ``squeeze`` times denser per day."""
    e0 = int(dt.datetime.fromisoformat(synth.EPOCH).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    df = synth.transcripts(spark, n_convs=n_convs, avg_turns=avg_turns, seed=seed, partitions=parts)
    ofs = F.unix_micros(F.col("ts")) - F.lit(e0)
    df.withColumn("ts", F.timestamp_micros(F.lit(e0) + F.floor(ofs / squeeze))).coalesce(parts).write.parquet(path)


def write_daily(
    spark, path: str, seed: int, n_days: int, n_convs: int, avg_turns: int, parts: int
) -> list[str]:
    """Stage ``n_days`` partitions ``date=YYYY-MM-DD`` under ``path``: every
    conversation starts on a day drawn from a hash of its id (so each day
    holds about ``n_convs`` conversations); turns past the last day are cut."""
    df = synth.transcripts(
        spark, n_convs=n_convs * n_days, avg_turns=avg_turns, seed=seed, partitions=parts
    )
    k = F.pmod(F.xxhash64("conv_id", F.lit(seed)), F.lit(n_days)).cast("int")
    days = [day_name(i) for i in range(n_days)]
    (
        df.withColumn("ts", F.col("ts") + F.make_interval(days=k))
        .withColumn("date", F.to_date("ts"))
        .filter(F.col("date") <= F.lit(days[-1]).cast("date"))
        .repartition(parts, "date", "conv_id")
        .write.partitionBy("date")
        .parquet(path)
    )
    return days


def land(staging: str, landing: str, day: str) -> None:
    """Land one staged day in the landing zone (one directory rename)."""
    os.makedirs(landing, exist_ok=True)
    os.rename(f"{staging}/date={day}", f"{landing}/date={day}")
