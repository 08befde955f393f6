"""Canonical schemas.

The reference's data model is a schema-less positional Record of tagged
scalar cells (core/.../element/Record.java:26-46, Column.java:27-99); schema
lives only in per-plugin config. Our engine is table-first: explicit
StructTypes, with complex types (array/binary) first-class — the reference
round-trips ARRAY through strings (CommonRdbmsReader.java:413-414,
IcebergWriter.java:239-247); Spark represents them natively.
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint — exact input shape.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Rollup tier table (FIXTURES.md F2): one row per (conv_id, bucket_start).
# avg_len is derived (sum_len / turn_count) for bit-exact cross-engine parity;
# `last` is the row with max (ts, turn_idx) in the bucket.
ROLLUP = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("turn_count", T.LongType(), False),
        T.StructField("sum_len", T.LongType(), False),
        T.StructField("min_len", T.LongType(), False),
        T.StructField("max_len", T.LongType(), False),
        T.StructField("avg_len", T.DoubleType(), False),
        T.StructField("last_ts", T.TimestampType(), False),
        T.StructField("last_turn_idx", T.IntegerType(), False),
        T.StructField("last_text", T.StringType(), True),
    ]
)

# Gorilla chunk table: one compressed blob per (conv_id, chunk_start) series
# segment. n_points/bytes_raw/bytes_enc feed the lineage metrics
# (north_rule: rows read, chunks encoded, bytes compressed).
CHUNKS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("chunk_start", T.TimestampType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("bytes_raw", T.LongType(), False),
        T.StructField("bytes_enc", T.LongType(), False),
        T.StructField("chunk", T.BinaryType(), False),
    ]
)
