"""Serving API tests: tier-ladder range queries, partition pruning, window
gap-fill alignment, raw point reads from chunks, and the north-rule per-turn
text-equality transport invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from addax_spark import serving, synth
from addax_spark.job import RollupJobSpec, run
from addax_spark.operators.rollup import rollup_from_raw


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("serveraw") / "t.parquet")
    out = str(tmp_path_factory.mktemp("serveout"))
    df = synth.transcripts(spark, n_convs=25, avg_turns=25)
    df.write.parquet(raw)
    run(spark, RollupJobSpec(raw, out, job_id="serve"))
    return raw, out


def test_query_range_matches_direct_rollup(spark, served):
    raw, out = served
    t0, t1 = "2025-01-01 00:00:00", "2025-01-02 00:00:00"
    got = serving.query_range(spark, out, t0, t1, tier="1m")
    exp = (
        rollup_from_raw(spark.read.parquet(raw), "1m")
        .filter((F.col("bucket_start") >= t0) & (F.col("bucket_start") < t1))
    )
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0


def test_query_range_ladder_picks_coarser_tier(spark, served):
    import datetime as dt

    raw, out = served
    # "now" far in the future: 1m/5m/1h horizons all passed -> 1d serves
    got = serving.query_range(
        spark, out, "2025-01-01 00:00:00", "2025-01-03 00:00:00",
        now=dt.date(2030, 1, 1),
    )
    exp = rollup_from_raw(spark.read.parquet(raw), "1d").filter(
        F.col("bucket_start") < "2025-01-03"
    )
    assert got.count() == exp.count() > 0


def test_query_range_gapfill_alignment(spark, served):
    raw, out = served
    t0, t1 = "2025-01-01 10:00:00", "2025-01-01 12:00:00"
    # pick two conversations that actually have observations in the window
    present = [
        r.conv_id
        for r in serving.query_range(spark, out, t0, t1, tier="1m")
        .select("conv_id").distinct().limit(2).collect()
    ]
    assert len(present) == 2
    g = serving.query_range(spark, out, t0, t1, tier="1m", fill="locf", conv_ids=present)
    # window-aligned: every conv has exactly 120 buckets
    counts = [r["count"] for r in g.groupBy("conv_id").count().collect()]
    assert len(counts) == 2 and all(c == 120 for c in counts)


def test_read_points_roundtrip(spark, served):
    raw, out = served
    t0, t1 = "2025-01-01 00:00:00", "2025-01-02 00:00:00"
    pts = serving.read_points(spark, out, t0, t1)
    exp = (
        spark.read.parquet(raw)
        .filter((F.col("ts") >= t0) & (F.col("ts") < t1))
        .select("conv_id", "ts", F.length("text").cast("double").alias("value"))
    )
    assert pts.count() == exp.count() > 0
    assert pts.exceptAll(exp).count() == 0


def test_per_turn_text_equality_invariant(spark, served):
    """North-rule transport invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after a write/read round trip."""
    raw, _ = served
    orig = spark.read.parquet(raw)
    back = spark.read.parquet(raw)  # the engine's transport is the table IO
    a = orig.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
    b = back.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
    assert [r.text for r in a.collect()] == [r.text for r in b.collect()]
    # and UTF-8 content survives byte-exactly (edge conversation)
    utf = orig.filter("conv_id = 'edge-utf8'").collect()[0].text
    assert "تجربة" in utf and "🚀" in utf and "\n" in utf


def test_query_range_gapfill_unaligned_bounds(spark, served):
    """An unaligned t0/t1 (:30 seconds against a 1m tier) must floor to the
    tier grid — otherwise every spine bucket misses every stored bucket and
    the whole window comes back as null-filled gaps."""
    raw, out = served
    t0a, t1a = "2025-01-01 10:00:00", "2025-01-01 12:00:00"
    present = [
        r.conv_id
        for r in serving.query_range(spark, out, t0a, t1a, tier="1m")
        .select("conv_id").distinct().limit(2).collect()
    ]
    g = serving.query_range(
        spark, out, "2025-01-01 10:00:30", "2025-01-01 11:59:30",
        tier="1m", fill="locf", conv_ids=present,
    )
    rows = g.collect()
    per_conv = {}
    for r in rows:
        per_conv.setdefault(r.conv_id, []).append(r)
    # floored spine: [10:00, 11:59] inclusive = 120 buckets, and observed
    # rows actually align (not all-gap)
    for cid, rs in per_conv.items():
        assert len(rs) == 120, cid
        assert any(r.fill_method == "observed" for r in rs), f"{cid}: all gaps"


def _jobs_submitted(spark, build) -> int:
    """Spark jobs submitted while ``build()`` runs (its own job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "DataFrame build only")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_build_submits_no_spark_job(spark, served):
    """Building a served DataFrame is pure planning: the pinned schema means
    no footer-reading schema-inference job before the query's own action."""
    _, out = served
    t0, t1 = "2025-01-01 10:00:00", "2025-01-01 12:00:00"
    builds = {
        "range": lambda: serving.query_range(spark, out, t0, t1, tier="1m"),
        "fill_linear": lambda: serving.query_range(spark, out, t0, t1, tier="1m", fill="linear"),
        "points": lambda: serving.read_points(spark, out, t0, t1),
    }
    assert {k: _jobs_submitted(spark, b) for k, b in builds.items()} == dict.fromkeys(builds, 0)


def test_query_range_reads_only_covered_date_dirs(spark, served):
    import re

    _, out = served
    got = serving.query_range(spark, out, "2025-01-01 10:00:00", "2025-01-02 00:00:00", tier="1m")
    files = got.inputFiles()
    assert files
    dirs = {re.search(r"/tiers/(tier=[^/]+/date=[^/]+)/", f).group(1) for f in files}
    # t1 at midnight still lists the t1 day (inclusive date bound), no other
    assert dirs <= {"tier=1m/date=2025-01-01", "tier=1m/date=2025-01-02"}
    assert "tier=1m/date=2025-01-01" in dirs


@pytest.mark.parametrize("fill", [None, "locf"])
def test_query_range_absent_partitions_serve_empty(spark, served, tmp_path, fill):
    """A range whose tier partitions are gone (expired 1m day) or were never
    written (no tiers/ at all) is an empty answer with the served columns,
    not an error."""
    import datetime as dt
    import shutil

    from addax_spark import retention

    _, out = served
    t0, t1 = "2025-01-01 10:00:00", "2025-01-01 12:00:00"
    cols = serving.query_range(spark, out, t0, t1, tier="1m", fill=fill).columns
    expired = str(tmp_path / "expired")
    shutil.copytree(out, expired)
    dropped = retention.expire(expired, now=dt.date(2025, 1, 2), policy={"1m": 0})
    assert "2025-01-01" in dropped["1m"]
    bare = str(tmp_path / "bare")
    (tmp_path / "bare").mkdir()
    for root in (expired, bare):
        got = serving.query_range(spark, root, t0, t1, tier="1m", fill=fill)
        assert got.columns == cols
        assert got.count() == 0


def test_file_uri_root_serves_same_rows(spark, served):
    _, out = served
    t0, t1 = "2025-01-01 10:00:00", "2025-01-01 12:00:00"
    for q in (
        lambda root: serving.query_range(spark, root, t0, t1, tier="1m"),
        lambda root: serving.read_points(spark, root, t0, t1),
    ):
        a, b = q(out), q(f"file://{out}")
        assert a.count() == b.count() > 0
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bigint_turn_idx_input_serves_pinned_schema(spark, tmp_path):
    """The job projects its tier output onto schema.ROLLUP, so an input whose
    turn_idx is bigint still serves under the pinned read schema."""
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    synth.transcripts(spark, n_convs=8, avg_turns=12).withColumn(
        "turn_idx", F.col("turn_idx").cast("bigint")
    ).write.parquet(raw)
    run(spark, RollupJobSpec(raw, out, job_id="bigint"))
    t0, t1 = "2025-01-01 00:00:00", "2025-01-02 00:00:00"
    got = serving.query_range(spark, out, t0, t1, tier="1m")
    exp = rollup_from_raw(spark.read.parquet(raw), "1m").filter(
        (F.col("bucket_start") >= t0) & (F.col("bucket_start") < t1)
    )
    assert dict(got.dtypes)["last_turn_idx"] == "int"
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
