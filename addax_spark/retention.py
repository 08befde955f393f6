"""Tier-based retention & compaction: coarser tiers age in, finer data ages
out (north_rule: "tier-based retention/compaction that rewrites Iceberg
partitions as coarser tiers age in").

The reference's closest machinery is writeMode=truncate / preSql DELETE
(plugin/writer/icebergwriter/.../IcebergWriter.java:108-115 truncates via
deleteFromRowFilter(alwaysTrue); lib/addax-rdbms/.../WriterUtil.java:120-134
pre/post SQL) — coarse, whole-table. Here retention is partition-surgical:

- expire(): drop `date=` partitions older than each tier's horizon. On
  Iceberg: `DELETE FROM t WHERE date < cutoff` (metadata-only partition
  drop) + expire_snapshots; on the parquet-dir layout used in-sandbox:
  delete the partition directories (same granularity, same idempotence).
- compact(): rewrite a tier's surviving partitions to target file size
  (Iceberg rewrite_data_files analog): coalesce to ceil(bytes/target) files
  per partition via a per-partition overwrite.

A query over a time range then reads the finest tier that still holds it
(``serving.query_range`` reads that from the partitions left on disk) — the
standard continuous-aggregate retention ladder (e.g. raw 7d, 1m 30d, 5m
90d, 1h 1y, 1d forever).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import fs
from .job import read_dates
from .schema import ROLLUP

#: expire()'s default: tier -> days retained (None = keep forever); raw
#: handled by ingest side
DEFAULT_POLICY: dict[str, int | None] = {"1m": 30, "5m": 90, "1h": 365, "1d": None}

TARGET_FILE_BYTES = 128 * 1024 * 1024


def tier_root(output_root: str, tier: str) -> str:
    """Partition dir for one tier in the unified tiers table layout
    (tiers/tier=X/date=Y — one Iceberg-style identity-partitioned table)."""
    return f"{output_root}/tiers/tier={tier}"


def expire(
    output_root: str,
    now: dt.date,
    policy: dict[str, int | None] | None = None,
) -> dict[str, list[str]]:
    """Drop tier partitions past their horizon; returns {tier: [dates dropped]}."""
    policy = policy or DEFAULT_POLICY
    dropped: dict[str, list[str]] = {}
    for tier, days in policy.items():
        if days is None:
            continue
        cutoff = (now - dt.timedelta(days=days)).isoformat()
        root = tier_root(output_root, tier)
        for d in fs.list_dates(root):
            if d < cutoff:
                fs.delete(f"{root}/date={d}")
                dropped.setdefault(tier, []).append(d)
    return dropped


def recover_orphaned_partitions(root: str) -> list[str]:
    """Crash recovery for the compact() swap (ADVICE r4): a death between
    the two renames of one partition leaves its data only as hidden
    ``.bak_date=<d>`` — invisible to partition discovery, so a later
    compact() would silently skip that date forever. Before planning,
    restore any bak whose live dir is missing (crash mid-swap) and drop
    any bak whose live dir exists (crash after the swap, before cleanup —
    the live copy is the newer compacted one). Returns the dates restored."""
    restored: list[str] = []
    names = {name for name, _, _ in fs.ls(root)}
    for name in sorted(names):
        if not name.startswith(".bak_date="):
            continue
        d = name.split("=", 1)[1]
        if f"date={d}" in names:
            fs.delete(f"{root}/{name}")
        else:
            fs.rename(f"{root}/{name}", f"{root}/date={d}")
            restored.append(d)
    return restored


def compact(
    spark: SparkSession,
    output_root: str,
    tier: str,
    dates: list[str] | None = None,
) -> int:
    """Rewrite partitions of a tier to ~``TARGET_FILE_BYTES`` files
    (small-file compaction). Returns partitions rewritten. The parquet-dir
    analog of Iceberg's rewrite_data_files + overwritePartitions commit.

    ONE Spark action for all touched dates: per-date file targets come from
    a metadata-only size listing, each row gets a file slot hashed into
    [0, files_for_its_date), and a single repartition(date, slot) write
    rewrites everything. The per-date-loop alternative is an action (plan +
    commit) per partition — a driver-serial section that dominates at many
    partitions.

    Crash safety (ADVICE r3): the compacted output is STAGED to an
    underscore-prefixed sibling dir (invisible to partition discovery) and
    swapped in per partition: old -> hidden ``.bak`` rename, staged -> live
    rename, then the bak is deleted. The exposed window is between the two
    renames of one partition (recoverable from the retained ``.bak``) —
    not the committer's whole delete-all-then-rename span. On Iceberg this
    is rewrite_data_files' snapshot commit and needs none of this.

    The read goes through ``job.read_dates`` under the pinned
    ``schema.ROLLUP`` (no schema-inference job) and keeps only the planned
    dates (typed date predicate -> partition pruning), so compacting 3 of
    365 partitions scans 3, not 365."""
    root = tier_root(output_root, tier)
    recover_orphaned_partitions(root)
    live = fs.list_dates(root)
    plan: list[tuple[str, int]] = []
    for d in live if dates is None else [d for d in dates if d in live]:
        size = sum(n for name, _, n in fs.ls(f"{root}/date={d}") if name.endswith(".parquet"))
        plan.append((d, int(max(1, -(-size // TARGET_FILE_BYTES)))))
    if not plan:
        return 0

    fmap = spark.createDataFrame(
        [(dt.date.fromisoformat(d), n) for d, n in plan], "date date, _nf int"
    )
    planned = sorted(d for d, _ in plan)
    df = read_dates(spark, root, ROLLUP, planned[0], planned[-1])
    df = df.filter(F.col("date").isin([dt.date.fromisoformat(d) for d in planned]))
    df = df.join(F.broadcast(fmap), "date")
    slot = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c not in ("date", "_nf")]),
                  F.col("_nf").cast("bigint"))
    staged = f"{output_root}/tiers/_compact_{tier}"
    fs.delete(staged)
    (
        df.withColumn("_slot", slot)
        .repartition(F.col("date"), F.col("_slot"))
        .drop("_nf", "_slot")
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(staged)
    )
    swapped = 0
    staged_dates = set(fs.list_dates(staged))
    for d, _ in plan:
        if d not in staged_dates:
            # a planned partition that produced no staged output (e.g. its
            # files hold zero rows) must be left as-is, not renamed away
            continue
        part, bak = f"{root}/date={d}", f"{root}/.bak_date={d}"
        fs.delete(bak)
        fs.rename(part, bak)
        try:
            fs.rename(f"{staged}/date={d}", part)
        except BaseException:
            fs.rename(bak, part)  # restore — never leave the partition hidden
            raise
        fs.delete(bak)
        swapped += 1
    fs.delete(staged)
    return swapped

