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
  and writes on a second thread, so the two write actions overlap. Both
  shuffles take their partition count from colocate_by_series (2x the
  scheduler's parallelism); whether writes are salted follows from that
  parallelism too (_SALTED_MIN_CORES), so neither is a spec field.
- "failover" = the manifest: a rerun skips 'done' units and rewrites only
  its own partitions (dynamic partition overwrite -> idempotent).
- "metrics" = per-unit rows_read / chunks_encoded / bytes_raw /
  bytes_compressed rows in the manifest (the reference's Communication
  counters, CommunicationTool.java:30-120), observed on the two writes and
  checked per day: rows read = finest-tier Σ turn_count = Σ chunk n_points.
"""

from __future__ import annotations

import datetime as _dt
import random
import time
import uuid
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs
from .manifest import Manifest, UnitMetrics
from .operators.bucketize import TIER_ORDER
from .operators.gorilla import encode_chunks
from .operators.rollup import VALUE_EXPR, rollup_tiers
from .plans.partitioning import colocate_by_series
from .schema import ROLLUP

#: writer-task fan-out per (tier, date) output cell (files per dir bound)
_WRITE_SALT = 8
#: writes are salted at scheduler parallelism >= this: the r5 interleaved
#: A/Bs had unsalted winning at local[2]/local[8] but LOSING at local[32]
#: (warm mins 45.0 vs 40.1 s: one file per writer task x date of small-file
#: churn dominates)
_SALTED_MIN_CORES = 16
#: the total order of points within one series
_ORDER_COLS = ["ts", "turn_idx"]


@dataclass
class RollupJobSpec:
    input_path: str
    output_root: str
    job_id: str = ""
    max_units: int | None = None  # for tests: stop after N units (resume later)
    # days per checkpoint batch: one dynamic-partition-overwrite write set
    # covers the whole batch (amortizes per-action overhead); the batch's
    # one manifest commit holds a row per day, so resume stays per-day
    unit_batch: int = 16

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


def _observe_checksum(df: DataFrame, obs: Observation, weights: dict[str, int], ts_col: str,
                      name: str, v: Column) -> DataFrame:
    """``df`` plus its ``date`` (of ``ts_col``), observed by ``obs``: Σ ``v`` as
    ``name``, Σ ``v`` x its date's weight as ``"<name> wt"``. Two sums, not one
    per day (each costs every row): a wrong per-day vector with the right total
    matches both only if orthogonal to the random ``weights`` (p <= 1/range)."""
    w = F.create_map(*[F.lit(x) for d, k in weights.items() for x in (_dt.date.fromisoformat(d), k)])
    return df.withColumn("date", F.to_date(ts_col)).observe(
        obs, F.sum(v).alias(name), F.sum(v * w[F.col("date")]).alias(f"{name} wt"))


def _observed(*obs: Observation) -> defaultdict[str, int]:
    """``obs``' values once their actions returned; 0 where no row passed (a null sum, or
    the schema-less row ``get`` cannot convert, left when AQE prunes off an empty input)."""
    got: defaultdict[str, int] = defaultdict(int)
    for o in obs:
        try:
            got.update((k, v) for k, v in o.get.items() if v)
        except Py4JJavaError:
            pass
    return got


def run(spark: SparkSession, spec: RollupJobSpec) -> dict:
    """Execute (or resume) a rollup job; returns the metrics summary.

    The summary carries a ``phases`` dict of accumulated per-phase driver
    wall seconds (discover / manifest resume / writer join / manifest
    summary) — the reference's PerfRecord phase accounting
    (PerfRecord.java:162-180) re-expressed, and the tool for attributing
    the per-job fixed term that caps N->4N scaling efficiency."""
    ph: dict[str, float] = {}

    def _ph(key: str, t0: float) -> None:
        ph[key] = round(ph.get(key, 0.0) + (time.time() - t0), 3)

    t_ph = time.time()
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

    batches = [
        pending[i : i + spec.unit_batch] for i in range(0, len(pending), spec.unit_batch)
    ]
    # partitionOverwriteMode pinned PER WRITE: with a user-supplied session
    # (default static) a batch overwrite would wipe ALL previously written
    # partitions and a resume would delete completed days' output.
    #
    # Unsalted (below _SALTED_MIN_CORES), no repartition before partitionBy:
    # both writer inputs (the all-tier table, the arranged chunk table) are
    # ALREADY hash(conv_id)-clustered, so the dynamic-partition writer's
    # implicit per-task sort fans each (tier, date) cell across ALL shuffle
    # tasks and no extra shuffle is paid (for the tiers it would carry
    # last_text, i.e. ~raw-sized bytes). Cost: one file per shuffle
    # partition per date dir, which every downstream reader (compaction,
    # snapshots, serving) pays again. Salted writes repartition by (date,
    # conv-salt) first: files/dir bounded at _WRITE_SALT for one extra
    # shuffle per write — at cluster scale, where that bounded layout is
    # also the right 100 TB layout.
    wsalt = F.pmod(F.xxhash64("conv_id"), F.lit(_WRITE_SALT))
    salted = spark.sparkContext.defaultParallelism >= _SALTED_MIN_CORES

    def _write_partitioned(df: DataFrame, path: str, *parts: str) -> None:
        parts = (*parts, "date")
        if salted:
            df = df.repartition(*[F.col(c) for c in parts], wsalt)
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*parts).parquet(path)

    for batch in batches:
        t0 = time.time()
        sl = raw.filter(day_filter(batch))
        # summed as rows pass the two writes, keyed by output `date`: per-day
        # checksums of input rows (before the encode's shuffle) and finest-tier
        # turn_count, and the chunks' per-day counts and bytes
        o_rows, o_chunks, o_tiers = Observation(), Observation(), Observation()
        weights = {d: random.randrange(1, 1 << 20) for d in batch}
        try:
            # chunk pipeline: the Python-worker encode streams straight into
            # its writer
            pts = sl.select("conv_id", *_ORDER_COLS, F.expr(VALUE_EXPR).cast("double").alias("value"))
            chunks = encode_chunks(
                _observe_checksum(pts, o_rows, weights, "ts", "rows", F.lit(1)),
                order_cols=_ORDER_COLS,
            )
            # exact per-day sums only over the chunks (one row per series-day)
            day = {d: F.col("date") == F.lit(_dt.date.fromisoformat(d)) for d in batch}
            sums = {"chunks": F.lit(1), "points": F.col("n_points"),
                    "bytes_raw": F.col("bytes_raw"), "bytes_enc": F.col("bytes_enc")}
            chunks = chunks.withColumn("date", F.to_date("chunk_start")).observe(o_chunks, *[
                F.sum(F.when(day[d], v)).alias(f"{k} {d}") for k, v in sums.items() for d in batch])
            # every tier from one plan over ONE shuffle on hash(conv_id): the
            # 1m aggregate and the all-tier merge are exchange-free above it
            # (plan-asserted in tests/test_rollup_parity.py), and coarser
            # tiers merge 1m partials, never raw rows
            tiers = rollup_tiers(colocate_by_series(sl))
            # schema.ROLLUP is the on-disk contract serving reads with; the
            # casts are no-ops (optimized away) for TRANSCRIPTS-typed input
            tiers = tiers.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in ROLLUP.fields], "tier"
            )
            finest = F.when(F.col("tier") == TIER_ORDER[0], F.col("turn_count"))
            tiers = _observe_checksum(tiers, o_tiers, weights, "bucket_start", "turns", finest)
            # the two write actions run on writer threads so each one's
            # serial segments (driver planning, output commit, straggler
            # tail) overlap the other's parallel compute. Leaving the pool
            # joins both, so a failed write never leaves the other one
            # running to race a retry committing into the same directories.
            with ThreadPoolExecutor(max_workers=2) as pool:
                writes = [
                    pool.submit(_write_partitioned, chunks, f"{spec.output_root}/chunks"),
                    pool.submit(_write_partitioned, tiers, f"{spec.output_root}/tiers", "tier"),
                ]
                t_ph = time.time()
            _ph("writers_join", t_ph)
            for w in writes:
                w.result()
            # only now: a failed action never completes its observations
            got = _observed(o_rows, o_chunks, o_tiers)
            # the chunks' per-day n_points, once both checksums match them, are
            # the per-day rows read and finest-tier turn_count sums too
            points = {d: got[f"points {d}"] for d in batch}
            want = (sum(points.values()), sum(weights[d] * n for d, n in points.items()))
            if any((got[k], got[f"{k} wt"]) != want for k in ("rows", "turns")):
                raise RuntimeError(
                    f"conservation broken in batch {batch}: per-day rows read, finest-tier "
                    "turn_count and chunk n_points differ. A task retry in a shuffle-map stage "
                    "counts twice, so after an executor loss a rerun may succeed")
            wall_each = (time.time() - t0) / len(batch)
            man.mark_done({
                d: UnitMetrics(rows_read=points[d], chunks_encoded=got[f"chunks {d}"], wall_s=wall_each,
                               bytes_raw=got[f"bytes_raw {d}"], bytes_compressed=got[f"bytes_enc {d}"])
                for d in batch
            })
        except Exception:
            man.mark_failed(batch)
            raise

    t_ph = time.time()
    summary = man.metrics_summary()
    _ph("manifest_summary", t_ph)
    summary["units_total"] = len(days)
    summary["units_skipped_resume"] = len(done)
    summary["phases"] = ph
    return summary
