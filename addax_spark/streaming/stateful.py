"""Custom stateful streaming operator: per-conversation running state via
``applyInPandasWithState`` (the north-star's designated escape hatch for
stateful semantics windows can't express).

`stream_conversation_state` maintains, per conv_id: total turns seen, sum of
text lengths, last (ts, turn_idx), and the current inactivity-gap session
count — emitting one updated row per conversation per micro-batch. State is
a compact tuple; timeouts close idle conversations (GroupStateTimeout), so
state size is bounded by *active* series, not history — the property that
matters at 10^12 turns.

The batch equivalents are rollup_from_raw + sessionize; the streaming test
checks agreement with them after a full drain.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType()),
        T.StructField("sum_len", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_turn_idx", T.IntegerType()),
        T.StructField("n_sessions", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("sum_len", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_turn_idx", T.IntegerType()),
        T.StructField("n_sessions", T.LongType()),
    ]
)

SESSION_GAP_S = 1800


IDLE_TIMEOUT_MS = 24 * 3600 * 1000


def _make_update(evict_idle: bool, idle_timeout_ms: int = IDLE_TIMEOUT_MS):
    def update(key, pdfs, state):
        yield from _update(key, pdfs, state, evict_idle, idle_timeout_ms)

    return update


def _update(
    key,
    pdfs,
    state: GroupState,
    evict_idle: bool = False,
    idle_timeout_ms: int = IDLE_TIMEOUT_MS,
):
    (conv_id,) = key
    if state.hasTimedOut:
        # timeout invocation: the batch iterator is EMPTY (pd.concat would
        # raise) — emit the group's final row and actually evict the state,
        # which is the whole point of the bounded-state mode
        n, s, lt, li, ns = state.get if state.exists else (0, 0, None, None, 0)
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "conv_id": conv_id,
                    "n_turns": n,
                    "sum_len": s,
                    "last_ts_us": lt,
                    "last_turn_idx": li,
                    "n_sessions": ns,
                }
            ]
        )
        return
    if state.exists:
        n, s, lt, li, ns = state.get
    else:
        n, s, lt, li, ns = 0, 0, None, None, 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    # event-time order within the batch; (ts, turn_idx) is the total order
    rows = rows.sort_values(["ts", "turn_idx"], kind="mergesort")
    ts_us = (rows["ts"].astype("datetime64[us]").astype("int64")).to_numpy()
    lens = rows["text"].str.len().fillna(0).astype("int64").to_numpy()
    if len(ts_us):
        import numpy as np

        # vectorized session counting: gaps within the batch + the boundary
        # gap against carried state (no per-row Python). Exact when each
        # conversation's turns arrive in order (the keyed-log contract, e.g.
        # Kafka partitioned by conv_id); late/out-of-order turns still count
        # into totals but can over/under-count session boundaries.
        prev_first = lt if lt is not None else ts_us[0] - (SESSION_GAP_S + 1) * 2_000_000
        gaps = np.diff(ts_us, prepend=np.int64(prev_first))
        ns += int((gaps > SESSION_GAP_S * 1_000_000).sum())
        n += len(ts_us)
        s += int(lens.sum())
        # last = max by (ts, turn_idx) across ALL batches — never regress on
        # out-of-order arrival
        b_lt = int(ts_us[-1])
        b_li = int(rows["turn_idx"].to_numpy()[-1])
        if lt is None or (b_lt, b_li) > (lt, li):
            lt, li = b_lt, b_li
    state.update((n, s, lt, li, ns))
    if evict_idle:
        state.setTimeoutDuration(idle_timeout_ms)  # close idle conversations
    yield pd.DataFrame(
        [
            {
                "conv_id": conv_id,
                "n_turns": n,
                "sum_len": s,
                "last_ts_us": lt,
                "last_turn_idx": li,
                "n_sessions": ns,
            }
        ]
    )


def run_state_to_parquet(
    spark,
    src_path: str,
    out_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int = 10,
):
    """Production sink for the stateful operator: each micro-batch's updated
    rows land in parquet via foreachBatch, partitioned by batch_id with a
    per-partition dynamic overwrite — a REPLAYED batch (restart after a
    mid-drain kill) overwrites its own partition, so the output is
    exactly-once per batch id without a transactional sink. Nothing
    accumulates driver-side (the memory-sink harness used by the driver
    entry is the test surface, not this path).

    Readers recover the latest state per conversation with
    ``max_by(*, n_turns)`` — n_turns is strictly increasing per conv across
    emissions, so the reduction is also idempotent under any residual
    duplication. Returns the StreamingQuery after a full AvailableNow
    drain."""
    from .rollup_stream import read_transcript_stream

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    q = (
        stream_conversation_state(
            read_transcript_stream(spark, src_path, max_files_per_trigger)
        )
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def final_state(emissions: DataFrame) -> DataFrame:
    """Latest per-conversation state from accumulated update-mode emissions
    (memory table or file-sink rows): max_by every column on n_turns —
    strictly increasing per conv, so the pick is deterministic at any
    batching and idempotent under duplication."""
    m = lambda c: F.max_by(c, F.col("n_turns")).alias(c)  # noqa: E731
    return emissions.groupBy("conv_id").agg(
        F.max("n_turns").alias("n_turns"),
        m("sum_len"),
        m("last_ts_us"),
        m("last_turn_idx"),
        m("n_sessions"),
    )


def stream_conversation_state(
    stream: DataFrame, evict_idle: bool = False, idle_timeout_ms: int = IDLE_TIMEOUT_MS
) -> DataFrame:
    """Per-conversation running aggregates + session counts.

    evict_idle=True uses ProcessingTimeTimeout to drop conversations idle
    for ``idle_timeout_ms`` (default a day) — the bounded-state mode for
    continuous deployments; the timed-out group emits a final row and its
    state is removed. Leave False for drain-style runs: a
    ProcessingTimeTimeout query under Trigger.AvailableNow never terminates
    (Spark keeps scheduling timeout-handling batches — measured, not
    documented upstream)."""
    return (
        stream.select("conv_id", "turn_idx", "text", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_update(evict_idle, idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if evict_idle
            else GroupStateTimeout.NoTimeout,
        )
    )
