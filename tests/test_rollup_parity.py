"""Tier rollup parity vs an independent DuckDB oracle — exact equality
(BASELINE.json: "exact rolled-up point parity ... at each retention tier").

The oracle recomputes every tier directly from raw turns (never via the
cascade), so these tests also prove the 1m->5m->1h->1d cascade merge is
exact, not just self-consistent.
"""

from __future__ import annotations

import pytest

from addax_spark import synth
from addax_spark.operators.bucketize import TIERS
from addax_spark.operators.rollup import rollup_all_tiers

from .conftest import assert_df_equal


@pytest.fixture(scope="module")
def fixture_data(spark, ddb, tmp_path_factory):
    """Synth transcripts written once, registered in both engines."""
    p = str(tmp_path_factory.mktemp("transcripts") / "transcripts.parquet")
    df = synth.transcripts(spark, n_convs=60, avg_turns=30)
    df.write.mode("overwrite").parquet(p)
    sdf = spark.read.parquet(p)
    ddb.execute(f"CREATE OR REPLACE VIEW transcripts AS SELECT * FROM read_parquet('{p}/*.parquet')")
    return sdf


def oracle_rollup_sql(tier: str, source: str = "transcripts") -> str:
    step_us = TIERS[tier] * 1_000_000
    return f"""
    SELECT conv_id,
           make_timestamp(epoch_us(ts) - epoch_us(ts) % {step_us}) AS bucket_start,
           count(*) AS turn_count,
           sum(length(text)) AS sum_len,
           min(length(text)) AS min_len,
           max(length(text)) AS max_len,
           sum(length(text))::DOUBLE / count(*) AS avg_len,
           max_by(ts, epoch_us(ts)::HUGEINT * 1000000 + turn_idx) AS last_ts,
           max_by(turn_idx, epoch_us(ts)::HUGEINT * 1000000 + turn_idx) AS last_turn_idx,
           max_by(text, epoch_us(ts)::HUGEINT * 1000000 + turn_idx) AS last_text
    FROM {source}
    GROUP BY conv_id, bucket_start
    """


@pytest.mark.parametrize("tier", ["1m", "5m", "1h", "1d"])
def test_tier_parity(spark, ddb, fixture_data, tier):
    tiers = rollup_all_tiers(fixture_data)
    exp = ddb.execute(oracle_rollup_sql(tier)).df()
    assert_df_equal(tiers[tier], exp, ["conv_id", "bucket_start"])


def test_determinism_across_parallelism(spark):
    a = synth.transcripts(spark, n_convs=40, avg_turns=15, partitions=2)
    b = synth.transcripts(spark, n_convs=40, avg_turns=15, partitions=13)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_last_tie_broken_by_turn_idx(spark, fixture_data):
    row = (
        rollup_all_tiers(fixture_data)["1d"]
        .filter("conv_id = 'edge-tie'")
        .collect()
    )
    assert len(row) == 1 and row[0].last_text == "second-at-tie"
    assert row[0].turn_count == 2


def test_boundary_timestamps_land_in_own_bucket(spark, fixture_data):
    m1 = rollup_all_tiers(fixture_data)["1m"].filter("conv_id = 'edge-boundary'").collect()
    starts = {r.bucket_start.isoformat(): r.turn_count for r in m1}
    assert starts == {
        "2025-01-03T00:00:00": 1,
        "2025-01-03T05:00:00": 1,
        "2025-01-03T05:01:00": 1,
    }


def test_colocated_cascade_is_exchange_free(spark):
    """plans.partitioning.colocate_by_series contract: after ONE hash
    repartition on conv_id, the 1m rollup and every cascade step satisfy
    their (conv_id, bucket) clustered distribution — exactly one Exchange
    in the whole 4-tier physical plan."""
    from addax_spark import synth
    from addax_spark.operators.rollup import rollup_cascade_step, rollup_from_raw

    def n_exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    t = synth.transcripts(spark, n_convs=20, avg_turns=10)

    def cascade(src):
        cur = rollup_from_raw(src, "1m")
        for tier in ["5m", "1h", "1d"]:
            cur = rollup_cascade_step(cur, tier)
        return cur

    base = n_exchanges(cascade(t))  # 1m groupBy + 3 cascade groupBys shuffle
    coloc = n_exchanges(cascade(t.repartition(4, "conv_id")))
    # the colocate repartition replaces the 1m agg's exchange AND removes the
    # three cascade exchanges: exactly 3 fewer in total
    assert coloc == base - 3, f"expected {base - 3} exchanges, got {coloc}"


def test_rollup_tiers_one_plan_single_exchange(spark, fixture_data):
    """rollup_tiers builds every tier in one plan: over an input hashed on
    conv_id it plans exactly that one Exchange and caches nothing, and each
    tier equals the step-by-step cascade."""
    from addax_spark.operators.rollup import rollup_tiers

    src = fixture_data.repartition(4, "conv_id")
    tiers = rollup_tiers(src)
    plan = tiers._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "InMemoryRelation" not in plan, plan
    direct = rollup_all_tiers(fixture_data)
    for tier in ["1m", "5m", "1h", "1d"]:
        got = tiers.filter(f"tier = '{tier}'").drop("tier")
        assert got.exceptAll(direct[tier]).count() == 0, tier
        assert direct[tier].exceptAll(got).count() == 0, tier


@pytest.mark.parametrize("tiers", [["5m", "1m"], ["1m", "1m"], ["1d", "1h", "5m"]])
def test_rollup_tiers_rejects_bad_order(fixture_data, tiers):
    from addax_spark.operators.rollup import rollup_tiers

    with pytest.raises(AssertionError, match="finest-first"):
        rollup_tiers(fixture_data, tiers)


def test_entry_cascade_single_exchange(spark):
    """The driver-entry path (api.rollup_tier over events) plans ONE exchange
    for the full 4-tier cascade: transcripts_view windows by conv_id (an
    injective alias of user_id), so the window's own shuffle colocates every
    downstream (conv_id, bucket) aggregation — alias-aware output
    partitioning carries HashPartitioning(conv_id) through the projection."""
    from addax_spark import api

    df = api.rollup_tier(spark, "/root/testdata/sf0.001", "1d")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_grouped_median_null_values_cross_engine(spark, ddb, tmp_path_factory):
    """NULL values must not enter the median rank (ADVICE r4): Spark windows
    default NULLS FIRST, DuckDB NULLS LAST, so a NULL in the order column
    shifts rank-ceil(n/2) differently per engine. grouped_median excludes
    NULLs on both sides — verify exact parity on data WITH nulls."""
    from addax_spark.operators.timeseries import grouped_median

    p = str(tmp_path_factory.mktemp("mednull") / "ev.parquet")
    rows = [
        ("a", i, None if i % 3 == 0 else float(i)) for i in range(10)
    ] + [("b", i, None) for i in range(4)] + [("c", i, float(i % 4)) for i in range(7)]
    spark.createDataFrame(rows, "grp string, event_id int, value double").write.mode(
        "overwrite"
    ).parquet(p)
    got = grouped_median(
        spark.read.parquet(p), ["grp"], value_col="value", id_col="event_id"
    )
    exp = ddb.execute(f"""
        WITH x AS (
          SELECT grp, value, event_id,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY value ASC NULLS LAST, event_id) AS rn,
                 count(*) OVER (PARTITION BY grp) AS n
          FROM read_parquet('{p}/*.parquet')
          WHERE value IS NOT NULL
        )
        SELECT grp, value AS median_value, n FROM x WHERE rn = ceil(n / 2.0)
    """).df()
    # group b is all-NULL -> excluded entirely on both sides
    assert sorted(r.grp for r in got.select("grp").collect()) == ["a", "c"]
    assert_df_equal(got, exp, ["grp"])
