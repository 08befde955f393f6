"""Job driver + manifest/resume (FIXTURES.md F4) and retention tests:
interrupt after a strict subset of units, rerun, require identical tier
tables to an uninterrupted run, no duplicate partitions, and per-unit
lineage metrics. Then age tiers out and compact."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from addax_spark import fs, retention, serving, synth
from addax_spark.job import RollupJobSpec, run
from addax_spark.manifest import Manifest
from addax_spark.schema import ROLLUP


@pytest.fixture(scope="module")
def raw_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("jobraw") / "transcripts.parquet")
    synth.transcripts(spark, n_convs=40, avg_turns=30).write.parquet(p)
    return p


def _table(spark, root, tier):
    return (
        spark.read.parquet(f"{root}/tiers")
        .filter(f"tier = '{tier}'")
        .drop("date", "tier")
    )


def test_interrupt_resume_identical(spark, raw_path, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("job_uninterrupted"))
    out_b = str(tmp_path_factory.mktemp("job_interrupted"))

    full = run(spark, RollupJobSpec(raw_path, out_a, job_id="full"))
    assert full["units"] == full["units_total"] > 1
    assert full["rows_read"] > 0 and full["bytes_compressed"] > 0

    # interrupted: only 2 units, then resume with the SAME job_id
    part = run(spark, RollupJobSpec(raw_path, out_b, job_id="resume", max_units=2))
    assert part["units"] == 2
    resumed = run(spark, RollupJobSpec(raw_path, out_b, job_id="resume"))
    assert resumed["units_skipped_resume"] == 2
    assert resumed["units"] == full["units"]

    for tier in ["1m", "5m", "1h", "1d"]:
        a, b = _table(spark, out_a, tier), _table(spark, out_b, tier)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier

    # re-running a completed job is a no-op (idempotent)
    again = run(spark, RollupJobSpec(raw_path, out_b, job_id="resume"))
    assert again["units_skipped_resume"] == again["units_total"]
    assert again["units"] == full["units"]

    # lineage: per-unit metrics cover every turn exactly once
    total_turns = spark.read.parquet(raw_path).count()
    assert resumed["rows_read"] == total_turns
    assert resumed["bytes_raw"] == 16 * total_turns


def test_job_tiers_match_direct_rollup(spark, raw_path, tmp_path_factory):
    from addax_spark.operators.rollup import rollup_all_tiers

    out = str(tmp_path_factory.mktemp("job_direct"))
    run(spark, RollupJobSpec(raw_path, out, job_id="direct"))
    raw = spark.read.parquet(raw_path)
    direct = rollup_all_tiers(raw)
    for tier in ["1m", "5m", "1h", "1d"]:
        got = _table(spark, out, tier)
        exp = direct[tier]
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0, tier


def test_failed_write_marks_units_failed_and_resumes(spark, raw_path, tmp_path_factory):
    """A write that fails mid-batch raises after the other writer has
    finished, marks the batch's units failed (none done), and a rerun with
    the same job_id redoes them."""
    out = str(tmp_path_factory.mktemp("job_failwrite"))
    with open(f"{out}/tiers", "w") as f:  # a file where the tier table goes
        f.write("x")
    with pytest.raises(Exception):
        run(spark, RollupJobSpec(raw_path, out, job_id="fw"))
    # the chunk writer ran to its commit before the failure surfaced
    assert any(d.startswith("date=") for d in os.listdir(f"{out}/chunks"))
    assert Manifest(spark, f"{out}/_manifest", "fw").done_keys() == set()
    os.remove(f"{out}/tiers")
    res = run(spark, RollupJobSpec(raw_path, out, job_id="fw"))
    assert res["units"] == res["units_total"] and res["units_skipped_resume"] == 0
    assert res["rows_read"] == spark.read.parquet(raw_path).count()


def test_salted_writes_knob_identical_output(spark, raw_path, tmp_path_factory, monkeypatch):
    """Salted writes (the bounded-fan-in topology job.run picks at
    scheduler parallelism >= _SALTED_MIN_CORES, selected here by lowering
    that threshold to 1) and the shuffle-free write this local[8] session
    gets otherwise produce identical tier tables, and the salted layout
    honors the files-per-directory bound."""
    from addax_spark import job

    out_u = str(tmp_path_factory.mktemp("job_unsalted"))
    out_s = str(tmp_path_factory.mktemp("job_salted"))
    run(spark, RollupJobSpec(raw_path, out_u, job_id="u"))
    monkeypatch.setattr(job, "_SALTED_MIN_CORES", 1)
    run(spark, RollupJobSpec(raw_path, out_s, job_id="s"))
    for tier in ["1m", "1d"]:
        a, b = _table(spark, out_u, tier), _table(spark, out_s, tier)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier
    from addax_spark.job import _WRITE_SALT

    troot = f"{out_s}/tiers/tier=1m"
    for d in os.listdir(troot):
        if d.startswith("date="):
            n = len([f for f in os.listdir(f"{troot}/{d}") if f.endswith(".parquet")])
            assert n <= _WRITE_SALT, (d, n)


def test_retention_expire_and_compact(spark, raw_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_retention"))
    run(spark, RollupJobSpec(raw_path, out, job_id="ret"))
    dates = fs.list_dates(retention.tier_root(out, "1m"))
    assert len(dates) > 1
    # pretend "now" is far enough that the oldest 1m partition ages out but 1d stays
    now = dt.date.fromisoformat(dates[0]) + dt.timedelta(days=31)
    dropped = retention.expire(out, now, {"1m": 30, "1d": None})
    assert dropped.get("1m") == [dates[0]]
    assert fs.list_dates(retention.tier_root(out, "1m")) == dates[1:]
    assert fs.list_dates(retention.tier_root(out, "1d")) != []  # untouched

    # the ladder: the expired date is served by the next tier still holding it
    t0, t1 = f"{dates[0]} 00:00:00", f"{dates[1]} 00:00:00"
    got = serving.query_range(spark, out, t0, t1)
    exp = serving.query_range(spark, out, t0, t1, tier="5m")
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # compaction: same rows, fewer files
    root = retention.tier_root(out, "1h")
    before = spark.read.parquet(root).drop("date").cache()
    n_before = before.count()
    nfiles_before = sum(len([f for f in os.listdir(os.path.join(root, p)) if f.endswith(".parquet")])
                        for p in os.listdir(root) if p.startswith("date="))
    assert retention.compact(spark, out, "1h") > 0
    after = spark.read.parquet(root).drop("date")
    nfiles_after = sum(len([f for f in os.listdir(os.path.join(root, p)) if f.endswith(".parquet")])
                       for p in os.listdir(root) if p.startswith("date="))
    assert after.count() == n_before
    assert before.exceptAll(after).count() == 0
    assert nfiles_after <= nfiles_before
    before.unpersist()

    # compacting a dates= subset rewrites only that partition: its rows are
    # unchanged and every other date's files are left exactly as they were
    root = retention.tier_root(out, "1m")
    live = fs.list_dates(root)
    one = live[-1]

    def files(d):
        p = os.path.join(root, f"date={d}")
        return sorted((f, os.stat(os.path.join(p, f)).st_mtime_ns) for f in os.listdir(p))

    others = {d: files(d) for d in live if d != one}
    before = spark.read.parquet(f"{root}/date={one}").cache()
    assert before.count() > 0
    assert retention.compact(spark, out, "1m", dates=[one]) == 1
    after = spark.read.parquet(f"{root}/date={one}")
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    assert {d: files(d) for d in live if d != one} == others
    assert fs.list_dates(root) == live
    before.unpersist()


def test_file_uri_root_end_to_end(spark, raw_path, tmp_path_factory, monkeypatch):
    """job.run -> expire -> compact -> serve on a ``file://`` output root
    gives exactly the plain path's results: every output-path touch goes
    through the Hadoop FS layer, so nothing lands in a literal ``file:``
    dir under the cwd and expire really drops the partition."""
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd"))
    uri_dir = str(tmp_path_factory.mktemp("job_uri"))
    roots = [str(tmp_path_factory.mktemp("job_plain")), f"file://{uri_dir}"]
    got = []
    for root in roots:
        summary = run(spark, RollupJobSpec(raw_path, root, job_id="uri"))
        dates = fs.list_dates(retention.tier_root(root, "1m"))
        now = dt.date.fromisoformat(dates[0]) + dt.timedelta(days=31)
        dropped = retention.expire(root, now, {"1m": 30})
        assert fs.list_dates(retention.tier_root(root, "1m")) == dates[1:]
        compacted = retention.compact(spark, root, "1h")
        t0, t1 = f"{dates[0]} 00:00:00", f"{dates[-1]} 23:59:59"
        got.append((
            {k: v for k, v in summary.items() if k != "phases"},
            Manifest(spark, f"{root}/_manifest", "uri").metrics_summary(),
            dropped, compacted,
            serving.query_range(spark, root, t0, t1, tier="1m"),
            serving.read_points(spark, root, t0, t1),
        ))
    assert not os.path.exists(f"{uri_dir}/tiers/tier=1m/date={dates[0]}")
    assert not os.path.exists("file:")
    (*meta_plain, rng_p, pts_p), (*meta_uri, rng_u, pts_u) = got
    assert meta_plain == meta_uri and meta_plain[2] == {"1m": [dates[0]]}
    for a, b in ((rng_p, rng_u), (pts_p, pts_u)):
        assert a.count() == b.count() > 0
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_date_partitioned_input_discovery(spark, raw_path, tmp_path_factory):
    """date=-partitioned input: units come from a partition LISTING (no data
    scan) and per-unit filters partition-prune; outputs identical to the
    flat-layout run."""
    part_in = str(tmp_path_factory.mktemp("jobraw_part") / "t")
    raw = spark.read.parquet(raw_path)
    raw.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(part_in)

    listed = fs.list_dates(part_in)
    exp_days = sorted(
        r.d.isoformat() for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert listed == exp_days
    assert fs.list_dates(raw_path) == []  # flat layout -> fallback

    out_flat = str(tmp_path_factory.mktemp("job_flat"))
    out_part = str(tmp_path_factory.mktemp("job_part"))
    run(spark, RollupJobSpec(raw_path, out_flat, job_id="flatrun"))
    res = run(spark, RollupJobSpec(part_in, out_part, job_id="partrun"))
    assert res["units"] == len(exp_days)
    for tier in ["1m", "1d"]:
        a, b = _table(spark, out_flat, tier), _table(spark, out_part, tier)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier


def test_zero_chunk_batch_reads_metrics_with_explicit_schema(spark, tmp_path):
    """A listed unit with zero rows (empty date= partition dir) encodes zero
    chunks; its batch's empty partitionBy write leaves no parquet files, and
    the write observations over that fully pruned slice must still complete
    (no hang on ``Observation.get``) with zero metrics for the day, and
    later real batches still complete with correct tiers."""
    part_in = str(tmp_path / "t")
    raw = synth.transcripts(spark, n_convs=6, avg_turns=8)
    raw.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(part_in)
    # an EARLIER, empty partition: sorts first, so with unit_batch=1 the
    # zero-row unit is the FIRST batch (chunks dir has no files yet)
    os.makedirs(os.path.join(part_in, "date=2024-12-01"))

    out = str(tmp_path / "out")
    res = run(spark, RollupJobSpec(part_in, out, job_id="z", unit_batch=1))
    n_days = raw.select(F.to_date("ts")).distinct().count()
    assert res["units"] == n_days + 1
    assert res["rows_read"] == raw.count()  # empty unit contributed zero

    from addax_spark.operators.rollup import rollup_all_tiers

    exp = rollup_all_tiers(raw)["1m"]
    got = _table(spark, out, "1m")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


@pytest.fixture(scope="module")
def part3_path(spark, tmp_path_factory):
    """A 3-day date=-partitioned input."""
    p = str(tmp_path_factory.mktemp("jobraw_part3") / "t")
    raw = synth.transcripts(spark, n_convs=100, avg_turns=20)
    raw.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(p)
    assert len(fs.list_dates(p)) == 3
    return p


def test_one_manifest_commit_per_batch(spark, part3_path, tmp_path):
    """A batch's days are committed in one manifest file, and resume and the
    summary read it exactly as they read one file per day."""
    got = {}
    for batch in (3, 1):
        root = str(tmp_path / f"b{batch}")
        run(spark, RollupJobSpec(part3_path, root, job_id="m", unit_batch=batch))
        files = [n for n, _, _ in fs.ls(f"{root}/_manifest") if n.startswith("m-")]
        assert len(files) == 3 // batch
        man = Manifest(spark, f"{root}/_manifest", "m")
        got[batch] = (man.done_keys(), man.metrics_summary())
    assert got[3] == got[1] and got[3][0] == set(fs.list_dates(part3_path))


def test_conservation_break_fails_whole_batch(spark, raw_path, tmp_path, monkeypatch):
    """job.run checks per day that rows read = finest-tier Σ turn_count =
    Σ chunk n_points, from its own write observations: an encode that loses
    one input row fails the whole batch (no unit done), and an intact rerun
    completes."""
    import addax_spark.job as job

    encode = job.encode_chunks
    monkeypatch.setattr(job, "encode_chunks",
                        lambda df, **kw: encode(df.filter(F.col("conv_id") != "edge-single"), **kw))
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="conservation"):
        run(spark, RollupJobSpec(raw_path, out, job_id="cons"))
    man = Manifest(spark, f"{out}/_manifest", "cons")
    assert man.done_keys() == set()
    assert set(man._latest()["status"]) == {"failed"}
    monkeypatch.undo()
    res = run(spark, RollupJobSpec(raw_path, out, job_id="cons"))
    assert res["units"] == res["units_total"] and res["units_skipped_resume"] == 0
    assert res["rows_read"] == spark.read.parquet(raw_path).count()


@pytest.mark.parametrize("stage", ["tiers", "day_shift"])
def test_conservation_break_in_tiers_or_days_fails_batch(spark, raw_path, tmp_path, monkeypatch, stage):
    """The checks cover the tier side and each day, not only totals: a tier
    pipeline that loses one input row, or an encode that moves one day's
    rows to the next day of the batch (every total intact), fails the batch
    and leaves no unit done."""
    import addax_spark.job as job

    if stage == "tiers":
        colocate = job.colocate_by_series
        monkeypatch.setattr(job, "colocate_by_series",
                            lambda df: colocate(df.filter(F.col("conv_id") != "edge-single")))
    else:
        first = spark.read.parquet(raw_path).select(F.min(F.to_date("ts"))).first()[0]
        shift = F.when(F.to_date("ts") == F.lit(first), F.col("ts") + F.expr("INTERVAL 1 DAY"))
        encode = job.encode_chunks
        monkeypatch.setattr(job, "encode_chunks",
                            lambda df, **kw: encode(df.withColumn("ts", F.coalesce(shift, "ts")), **kw))
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="conservation"):
        run(spark, RollupJobSpec(raw_path, out, job_id="cons2"))
    assert Manifest(spark, f"{out}/_manifest", "cons2").done_keys() == set()


def test_job_never_reads_its_output_back(spark, part3_path, tmp_path, monkeypatch):
    """Per-day metrics come from the write actions' observations: with
    ``read_dates`` unusable a 2-batch job still completes, has no
    metrics_collect phase, and runs no Spark job on the driver thread but
    the input-schema read at init (the writes run on writer threads)."""
    import addax_spark.job as job

    def no_read_back(*args, **kwargs):
        raise AssertionError("job.run read its own output back")

    monkeypatch.setattr(job, "read_dates", no_read_back)
    sc = spark.sparkContext
    sc.setJobGroup("no-read-back", "job.run driver thread")
    try:
        res = run(spark, RollupJobSpec(part3_path, str(tmp_path / "out"), job_id="nrb",
                                       unit_batch=2))
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    assert res["units"] == res["units_total"] == 3
    assert "metrics_collect" not in res["phases"]
    assert len(sc.statusTracker().getJobIdsForGroup("no-read-back")) <= 1


def test_compact_recovers_orphaned_bak(spark, tmp_path):
    """Crash recovery for the compact swap (ADVICE r4): a partition left only
    as hidden .bak_date=<d> (death between the two renames) is restored before
    planning; a stale bak whose live dir exists (death after the swap) is
    dropped in favor of the newer compacted copy."""
    import shutil

    out = str(tmp_path / "ret")
    root = retention.tier_root(out, "1h")
    # tier partitions hold schema.ROLLUP rows (compact reads them under it)
    rows = []
    for i in range(30):
        ts = dt.datetime(2024, 1, 1 + i % 3, 12)
        rows.append((f"c{i}", ts, 1, i, i, i, float(i), ts, 0, f"t{i}"))
    df = spark.createDataFrame(rows, ROLLUP).withColumn("date", F.to_date("bucket_start"))
    df.repartition(2).write.partitionBy("date").parquet(root)
    dates = fs.list_dates(root)
    assert len(dates) == 3
    full = spark.read.parquet(root)
    exp = sorted(map(tuple, full.collect()))

    # simulate a crash mid-swap: one partition exists only as .bak
    victim = dates[0]
    os.rename(os.path.join(root, f"date={victim}"),
              os.path.join(root, f".bak_date={victim}"))
    assert fs.list_dates(root) == dates[1:]  # invisible

    # and a stale bak beside a live (newer) partition
    stale = dates[1]
    shutil.copytree(os.path.join(root, f"date={stale}"),
                    os.path.join(root, f".bak_date={stale}"))

    assert retention.compact(spark, out, "1h") == 3  # all three live again
    assert fs.list_dates(root) == dates
    assert not any(p.startswith(".bak_date=") for p in os.listdir(root))
    got = sorted(map(tuple, spark.read.parquet(root).collect()))
    assert got == exp  # no rows lost or duplicated through recovery + compact
