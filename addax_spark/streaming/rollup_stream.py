"""Streaming 1m rollup: readStream -> watermark -> windowed agg.

Same aggregate semantics as the batch tier (operators.rollup), expressed on
event-time windows so late turns inside the watermark still land in their
bucket; `last` uses max(struct(ts, turn_idx, text)) (streaming-supported
lexicographic struct max == batch max_by on (ts, turn_idx) since turn_idx
is unique per conv).

Sources: file streams (parquet dirs — the sandbox path) or Kafka
(`readStream.format("kafka")` + from_json on a real cluster; the schema
contract is identical). Sink: append-mode parquet/console/memory; the
watermark closes a bucket once event time passes bucket_end + delay, which
is exactly the tier table's eventual-consistency contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bucketize import TIERS
from ..operators.rollup import VALUE_EXPR
from ..schema import TRANSCRIPTS

#: event-time lateness a streaming bucket waits for before it closes
WATERMARK = "10 minutes"


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_rollup(stream: DataFrame) -> DataFrame:
    """The 1m tier as a windowed continuous aggregate over an unbounded
    transcript stream; late turns count while within WATERMARK of the
    latest event time."""
    v = F.expr(VALUE_EXPR).cast("long")
    step = TIERS["1m"]
    last = F.max(F.struct(F.col("ts"), F.col("turn_idx"), F.col("text"))).alias("_last")
    out = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy("conv_id", F.window("ts", f"{step} seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum(v).alias("sum_len"),
            F.min(v).alias("min_len"),
            F.max(v).alias("max_len"),
            last,
        )
    )
    return out.select(
        "conv_id",
        F.col("w.start").alias("bucket_start"),
        "turn_count",
        "sum_len",
        "min_len",
        "max_len",
        (F.col("sum_len").cast("double") / F.col("turn_count")).alias("avg_len"),
        F.col("_last.ts").alias("last_ts"),
        F.col("_last.turn_idx").alias("last_turn_idx"),
        F.col("_last.text").alias("last_text"),
    )


def run_to_memory(
    spark: SparkSession,
    src_path: str,
    name: str = "stream_rollup",
    max_files_per_trigger: int = 10,
) -> None:
    """Drain the source with availableNow and materialize into an in-memory
    table (test/debug harness; the complete-mode memory sink holds the full
    result driver-side — production is :func:`run_to_parquet`).

    ``max_files_per_trigger`` sizes the micro-batches: each batch is a full
    stateful shuffle + (complete-mode) re-emission, so a drain over a
    many-file source should batch coarsely unless the test needs fine
    batch boundaries."""
    q = (
        stream_rollup(read_transcript_stream(spark, src_path, max_files_per_trigger))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_parquet(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int = 10,
    await_seconds: float | None = None,
):
    """The production sink path: the 1m tier, append-mode parquet with a
    checkpoint.
    Executors write finalized buckets straight to files — nothing
    accumulates driver-side (the memory-sink harness is a driver bottleneck
    at scale), and the checkpoint makes the stream resumable exactly-once:
    kill mid-drain, restart with the same checkpoint_path, and the output
    converges to the batch result with no loss or duplication
    (tests/test_sources_streaming.py::test_stream_parquet_sink_resume).

    Append mode only emits a window once the watermark passes its end, so a
    bucket reaches the files exactly once, when it can no longer change —
    the tier table's eventual-consistency contract. The windows within the
    watermark at end-of-input stay in state until more data (or a restart
    with later data) advances the watermark; a drain-style caller that
    needs the tail flushed appends one sentinel row past
    max(ts) + WATERMARK (the test does exactly that). On a real cluster
    the same code writes to an Iceberg table via toTable().

    Returns the StreamingQuery; awaits termination (fully with
    availableNow semantics when ``await_seconds`` is None, else at most
    that many seconds — the kill-mid-drain hook)."""
    q = (
        stream_rollup(read_transcript_stream(spark, src_path, max_files_per_trigger))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_seconds is None:
        q.awaitTermination()
    else:
        q.awaitTermination(await_seconds)
    return q
