"""Gorilla codec property tests (FIXTURES.md F3): bit-exact round-trips on
regular/irregular cadence, constant values, pathological doubles (NaN
payloads, -0.0, infinities, subnormal/huge magnitudes), single-point and
10k-point chunks — plus the end-to-end Spark encode_chunks/decode_chunks
round trip and compression-ratio sanity."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from addax_spark.operators.gorilla import (
    decode,
    decode_many,
    encode,
    encode_chunks,
    encode_many,
    decode_chunks,
)

SPECIALS = [0.0, -0.0, 1e-308, 5e-324, 1e308, np.nan, np.inf, -np.inf,
            float.fromhex("0x1.fffffffffffffp+1023"),
            np.frombuffer(np.uint64(0x7FF8DEADBEEF1234).tobytes(), np.float64)[0]]


def test_encode_many_bit_identical_to_encode():
    """r6: the batch encoder must produce, chunk for chunk, the SAME blob
    bytes as the reference per-chunk encoder — pads are trailing zero bits
    the decoder never reads. Covers empty/single-point chunks, pathological
    doubles, 64-bit dod buckets, constant series, and the word packer's
    word boundaries: a 5,000-point chunk and a 64-bit dod code whose chunk
    starts mid-word."""
    rng = np.random.RandomState(11)
    chunks = []
    for n in [0, 1, 2, 3, 22, 107, 1, 5, 1000]:
        t = np.sort(rng.randint(0, 86_400_000_000, size=n)).astype(np.int64)
        chunks.append((t, np.round(rng.rand(n) * 100, 2)))
    chunks.append(
        (
            np.array([0, 1, 2, 10**15, 10**15 + 1], dtype=np.int64),
            np.array([np.nan, -0.0, np.inf, 1.5, 1.5]),
        )
    )
    chunks.append((np.arange(50, dtype=np.int64) * 60_000_000, np.full(50, 3.25)))
    # regression shape: trailing valid-less (n<=1) chunks after a real one
    # corrupted the previous chunk's bit count in the first r6 cut
    for n in [0, 7, 25, 24, 1]:
        t = np.sort(rng.randint(0, 86_400_000_000, size=n)).astype(np.int64)
        chunks.append((t, np.round(rng.rand(n) * 100, 2)))
    t = np.sort(rng.randint(0, 86_400_000_000, size=5000)).astype(np.int64)
    chunks.append((t, np.round(rng.rand(5000) * 100, 2)))
    chunks.append((np.arange(len(SPECIALS), dtype=np.int64) * 17, np.array(SPECIALS)))
    # an odd-length chunk with a 1-byte stream (1-bit codes only) puts the
    # next chunk's stream mid-word, so its leading 64-bit dod payload spills
    # into the following word
    chunks.append((np.zeros(3, np.int64), np.full(3, 2.5)))
    jump = len(chunks)
    chunks.append((np.array([5, 5 + 2**40, 2**41], np.int64), np.array([1.0, -1.0, 1e300])))
    offs = np.concatenate(([0], np.cumsum([len(t) for t, _ in chunks])))
    tall = np.concatenate([t for t, _ in chunks])
    vall = np.concatenate([v for _, v in chunks])
    blobs = encode_many(tall, vall, offs)
    for blob, (t, v) in zip(blobs, chunks):
        assert blob == encode(t, v)
    assert sum(len(b) - 24 for b in blobs[:jump]) % 8 != 0
    t2, v2, ns = decode_many(list(blobs))
    assert np.array_equal(t2, tall)
    assert np.array_equal(v2.view(np.uint64), vall.view(np.uint64))
    assert np.array_equal(ns, np.diff(offs))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=300), max_size=12),
    st.randoms(use_true_random=False),
)
def test_property_encode_many_matches_encode(sizes, rnd):
    """encode_many(batch)[k] == encode(chunk k) for random batches of
    0-300-point chunks mixing every dod bucket and value code."""
    rng = np.random.RandomState(rnd.getrandbits(32))
    chunks = []
    for n in sizes:
        scale = rng.choice([0, 1, 2**7, 2**15, 2**31, 2**40], size=n)
        t = np.cumsum(rng.randint(0, 2**20, size=n) * scale).astype(np.int64)
        v = np.where(rng.rand(n) < 0.3, 7.0, rng.randn(n) * 1e3)
        v[rng.rand(n) < 0.05] = rng.choice(SPECIALS)
        chunks.append((t, v))
    offs = np.concatenate(([0], np.cumsum(sizes, dtype=np.int64)))
    tall = np.concatenate([t for t, _ in chunks] + [np.zeros(0, np.int64)])
    vall = np.concatenate([v for _, v in chunks] + [np.zeros(0)])
    blobs = encode_many(tall, vall, offs)
    assert len(blobs) == len(chunks)
    for blob, (t, v) in zip(blobs, chunks):
        assert blob == encode(t, v)


def roundtrip(ts, vals):
    t = np.asarray(ts, dtype=np.int64)
    v = np.asarray(vals, dtype=np.float64)
    blob = encode(t, v)
    t2, v2 = decode(blob)
    assert np.array_equal(t, t2), f"ts mismatch: {t[:5]} vs {t2[:5]}"
    assert np.array_equal(v.view(np.uint64), v2.view(np.uint64)), "value bits mismatch"
    return blob


def test_regular_cadence_compresses_hard():
    n = 5000
    t = np.arange(n, dtype=np.int64) * 1_000_000 + 1_700_000_000_000_000
    v = np.full(n, 42.5)
    blob = roundtrip(t, v)
    # constant delta + constant value -> ~2 bits/point
    assert len(blob) < 24 + n // 3


def test_irregular_with_holes():
    rng = np.random.RandomState(7)
    gaps = rng.randint(1, 300, size=2000).astype(np.int64) * 1_000_000
    gaps[::97] += rng.randint(2, 50, size=len(gaps[::97])) * 60_000_000
    t = 1_700_000_000_000_000 + np.cumsum(gaps)
    v = rng.randn(2000) * 1e3
    roundtrip(t, v)


def test_pathological_doubles():
    t = np.arange(len(SPECIALS), dtype=np.int64) * 17
    roundtrip(t, SPECIALS)


def test_single_point_and_empty():
    roundtrip([123456789], [np.pi])
    roundtrip([], [])


def test_10k_points():
    rng = np.random.RandomState(3)
    t = np.cumsum(rng.randint(1, 10**7, size=10_000)).astype(np.int64)
    roundtrip(t, rng.randn(10_000))


def test_large_dod_64bit_bucket():
    # deltas jumping by > 2^31 micros exercise the raw-64-bit branch
    t = np.array([0, 1, 10**12, 10**12 + 5, 3 * 10**12], dtype=np.int64)
    roundtrip(t, [1.0, 2.0, 2.0, -2.0, 1e-100])


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=10**10), min_size=1, max_size=300),
    st.randoms(use_true_random=False),
)
def test_property_roundtrip(gaps, rnd):
    t = np.cumsum(np.asarray(gaps, dtype=np.int64))
    v = np.array([rnd.choice([0.0, rnd.uniform(-1e6, 1e6), rnd.random()]) for _ in gaps])
    roundtrip(t, v)


def test_spark_chunk_roundtrip(spark):
    from addax_spark import synth
    from pyspark.sql import functions as F

    df = synth.transcripts(spark, n_convs=20, avg_turns=25).withColumn(
        "value", F.length("text").cast("double")
    )
    chunks = encode_chunks(df, value="value", chunk_tier="1d", order_cols=["ts", "turn_idx"]).cache()
    m = chunks.agg(
        F.sum("n_points").alias("pts"), F.sum("bytes_raw").alias("raw"), F.sum("bytes_enc").alias("enc")
    ).collect()[0]
    assert m.pts == df.count()
    assert m.enc < m.raw, f"no compression: {m.enc} >= {m.raw}"
    back = decode_chunks(chunks)
    orig = df.select(
        "conv_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # multiset equality of decoded points vs original series
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    chunks.unpersist()


def test_encode_chunks_large_chunks_use_encode_many(spark, monkeypatch):
    """Day-chunks of 5,000 points (the dense-probe shape) go through the
    batch encoder like small ones: the per-chunk reference ``encode`` is
    never called, and the chunks decode back to the input points."""
    import pandas as pd
    from pyspark.sql import functions as F

    from addax_spark.operators import gorilla

    def per_chunk_encode(*_args, **_kwargs):
        raise AssertionError("encode_chunks called the per-chunk encode")

    monkeypatch.setattr(gorilla, "encode", per_chunk_encode)
    rng = np.random.RandomState(5)
    n = 5000
    frames = []
    for c in range(3):
        for day in range(2):
            ofs = np.sort(rng.randint(0, 86_400, size=n)) * 1_000_000 + day * 86_400_000_000
            frames.append(pd.DataFrame({
                "conv_id": f"dense-{c}",
                "ts": pd.Timestamp("2025-01-01") + pd.to_timedelta(ofs, unit="us"),
                "value": np.round(rng.rand(n) * 100, 1),
            }))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    chunks = encode_chunks(df, value="value").cache()
    assert chunks.agg(F.min("n_points")).first()[0] >= 4000
    back = decode_chunks(chunks)
    orig = df.select("conv_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    chunks.unpersist()
