"""Transformer-chain and job-driver tests: the reference's transformer_demo
chain (dx_replace -> dx_map(^) -> dx_filter) run through `chain`,
dx_filter null-literal semantics, `chain`'s by-name lookup of the dx_*
built-ins and its single pass, native types through the date-partition
reader, and a zero-unit dry run of `job.run` that writes no output."""

from __future__ import annotations

import os
from decimal import Decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from addax_spark import synth
from addax_spark.job import RollupJobSpec, read_dates, run
from addax_spark.operators.transforms import Transform, chain, dx_filter
from addax_spark.retention import tier_root
from addax_spark.schema import ROLLUP


def test_streamreader_transformer_demo_shape(spark):
    """The reference's transformer_demo.json shape: constant string columns
    plus a 0..10 long column, through the dx_replace / dx_map(^) / dx_filter
    chain; the result is the same on every run."""
    rows = [("My name is xxxx", "19", i % 11) for i in range(10)]
    df = spark.createDataFrame(rows, "col1 string, col2 string, col3 long")
    demo = [
        Transform("dx_replace", ("col1", 11, 4, "wgzhao")),
        Transform("dx_map", ("col2", "^", "2")),
        Transform("dx_filter", ("col3", "<", "5")),
    ]
    got = sorted(tuple(r) for r in chain(df, demo).collect())
    # dx_filter drops the matching rows: col3 < 5 goes, 5..9 stay
    assert got == [("My name is wgzhao", Decimal(361), v) for v in range(5, 10)]
    assert sorted(tuple(r) for r in chain(df, demo).collect()) == got


def test_dx_filter_null_literal_semantics(spark):
    """FilterTransformer null branches: '=' 'null' drops nulls; '!=' other
    drops nulls; '>' keeps nulls; 'not like' drops nulls."""
    df = spark.createDataFrame(
        [("a",), (None,), ("null",), ("b",)], "v string"
    )
    keep = lambda op, val: sorted(  # noqa: E731
        r.v or "<null>" for r in dx_filter(df, "v", op, val).collect()
    )
    assert keep("=", "null") == ["a", "b"]  # null AND literal 'null' dropped
    assert keep("=", "a") == ["<null>", "b", "null"]
    assert keep("!=", "null") == ["<null>", "null"]  # kept: null field + 'null'
    assert keep("!=", "a") == ["a"]  # nulls dropped on != other
    assert keep(">", "a") == ["<null>", "a"]  # nulls skip comparison
    assert keep("like", "a.*") == ["<null>", "b", "null"]
    assert keep("not like", "a.*") == ["a"]  # nulls dropped on not-like


def test_registered_transformer_and_single_pass(spark, tmp_path):
    """`chain` resolves each dx_* built-in by its registered name, and the
    pipeline executes ONCE: custom logic enters as a pandas UDF column ahead
    of the chain, and an accumulator inside it counts row visits — building
    the chain (dx_filter reads the column type) runs no Spark job, so the
    write is the only pass. An unknown name fails before any data moves."""
    acc = spark.sparkContext.accumulator(0)

    def upper_counted(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s.str.upper()

    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (95, "carl")], "id long, name string"
    ).withColumn("name", F.pandas_udf(upper_counted, StringType())(F.col("name")))
    out = str(tmp_path / "single_pass")
    chain(df, [
        Transform("dx_substr", ("name", 0, 3)),
        Transform("dx_pad", ("name", "r", 4, "_")),
        Transform("dx_filter", ("id", ">", "90")),
    ]).write.parquet(out)
    assert {r.name for r in spark.read.parquet(out).collect()} == {"ALI_", "BOB_"}
    # single pass: the filter on id runs below the UDF, so the 2 surviving
    # rows crossed it exactly once each, during the write
    assert acc.value == 2
    with pytest.raises(KeyError, match="dx_nope"):
        chain(df, [Transform("dx_nope", ("name",))])
    assert acc.value == 2


def test_parquet_reader_keeps_native_types(spark, tmp_path):
    """A rollup tier read back through the date-partition reader keeps its
    native column types (no string round-trip), and an empty date range
    yields the same typed columns."""
    raw = str(tmp_path / "typed_in.parquet")
    synth.transcripts(spark, n_convs=4, avg_turns=5).write.parquet(raw)
    out = str(tmp_path / "typed_out")
    run(spark, RollupJobSpec(raw, out, job_id="typed"))
    expected = {f.name: f.dataType.simpleString() for f in ROLLUP.fields}
    expected["date"] = "date"
    got = read_dates(spark, tier_root(out, "1m"), ROLLUP)
    assert dict(got.dtypes) == expected
    assert got.count() > 0
    empty = read_dates(spark, tier_root(out, "1m"), ROLLUP, "1900-01-01", "1900-01-01")
    assert dict(empty.dtypes) == expected and empty.count() == 0


def test_pre_check_dry_run(spark, tmp_path):
    """A zero-unit run discovers the input's day units and resolves the
    manifest, but moves no data: no tier or chunk output is written."""
    raw = str(tmp_path / "dry_in.parquet")
    df = synth.transcripts(spark, n_convs=4, avg_turns=5)
    df.write.parquet(raw)
    n_days = df.select(F.to_date("ts")).distinct().count()
    out = str(tmp_path / "dry_out")
    summary = run(spark, RollupJobSpec(raw, out, job_id="dry", max_units=0))
    assert summary["units_total"] == n_days and summary["units"] == 0
    assert not os.path.exists(f"{out}/tiers")
    assert not os.path.exists(f"{out}/chunks")
