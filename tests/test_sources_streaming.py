"""Streaming tests: the streaming rollup and the stateful per-conversation
operator match their batch twins, across kill/restart on one checkpoint."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from addax_spark import synth
from addax_spark.operators.rollup import rollup_from_raw
from addax_spark.streaming.rollup_stream import run_to_memory


def test_streaming_rollup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    df = synth.transcripts(spark, n_convs=20, avg_turns=15)
    # two "arrival" files -> two micro-batches
    a = df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    b = df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    a.coalesce(1).write.mode("append").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    run_to_memory(spark, src, name="sr_test")
    got = spark.table("sr_test")
    exp = rollup_from_raw(df, "1m")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stream_parquet_sink_resume(spark, tmp_path):
    """The production streaming path: append-mode parquet sink + checkpoint.
    The query is killed mid-drain (stop after a bounded wait with
    one-file-per-batch triggers), restarted on the SAME checkpoint, and the
    final output equals the batch rollup exactly — no loss, no duplication,
    wherever the kill landed (the file sink's _spark_metadata log discards
    uncommitted files on read). A far-future sentinel row appended before
    the final drain pushes the watermark past every real bucket so append
    mode flushes the tail windows."""
    from addax_spark.streaming.rollup_stream import run_to_parquet

    src = str(tmp_path / "psink_src")
    out = str(tmp_path / "psink_out")
    ckpt = str(tmp_path / "psink_ckpt")
    os.makedirs(src)
    df = synth.transcripts(spark, n_convs=15, avg_turns=12)
    # arrival order ~ event-time order (the watermark contract): six
    # contiguous time-slice files — random file assignment would let batch 1
    # advance the watermark past rows still sitting in later files, and
    # append mode would (correctly) drop them as late
    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    edges = [lo + (hi - lo) * i / 6 for i in range(1, 6)]
    bounds = [(None, edges[0]), *zip(edges, edges[1:]), (edges[-1], None)]
    for b0, b1 in bounds:
        sl = df
        if b0 is not None:
            sl = sl.filter(F.col("ts") >= F.lit(b0))
        if b1 is not None:
            sl = sl.filter(F.col("ts") < F.lit(b1))
        sl.coalesce(1).write.mode("append").parquet(src)

    # phase 1: kill mid-drain (1 file per batch; stop after ~2s)
    q = run_to_parquet(spark, src, out, ckpt, max_files_per_trigger=1, await_seconds=2.0)
    q.stop()
    q.awaitTermination()

    # sentinel past max(ts) + watermark so every real window finalizes
    max_ts = df.agg(F.max("ts")).first()[0]
    sent = spark.createDataFrame(
        [("__sentinel__", 0, "sys", "x", None, max_ts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    sent.coalesce(1).write.mode("append").parquet(src)

    # phase 2: restart on the same checkpoint; full drain
    run_to_parquet(spark, src, out, ckpt, max_files_per_trigger=1)

    got = spark.read.parquet(out).filter(F.col("conv_id") != "__sentinel__")
    exp = rollup_from_raw(df, "1m")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_stateful_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState running aggregates == batch rollup + sessionize
    after a full drain across micro-batches (state carried between batches)."""
    from addax_spark.streaming.stateful import stream_conversation_state
    from addax_spark.streaming.rollup_stream import read_transcript_stream
    from addax_spark.operators.timeseries import sessionize

    src = str(tmp_path / "state_src")
    os.makedirs(src)
    df = synth.transcripts(spark, n_convs=15, avg_turns=20)
    # three arrival files split by turn ranges: conversations span batches
    # (state must carry) while each conversation arrives in order (the
    # keyed-log contract session counting assumes)
    for lo, hi in [(0, 5), (5, 12), (12, 10**9)]:
        df.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    q = (
        stream_conversation_state(read_transcript_stream(spark, src, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("conv_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per conv per batch; take the latest per conv
    got = {
        r.conv_id: r
        for r in spark.sql(
            "select * from (select *, row_number() over (partition by conv_id order by n_turns desc) rn from conv_state) where rn = 1"
        ).collect()
    }
    exp_tot = {
        r.conv_id: r
        for r in df.groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("s"),
            F.max(F.struct("ts", "turn_idx")).alias("last"),
        )
        .collect()
    }
    sess = {
        r.conv_id: r.ns
        for r in sessionize(
            df.select(F.col("conv_id"), "ts", F.col("turn_idx").alias("event_id")),
            gap_s=1800,
            key="conv_id",
            tie_col="event_id",
        )
        .groupBy("conv_id")
        .agg(F.count("*").alias("ns"))
        .collect()
    }
    assert set(got) == set(exp_tot)
    for cid, e in exp_tot.items():
        g = got[cid]
        assert g.n_turns == e.n and g.sum_len == e.s, cid
        assert g.last_turn_idx == e.last.turn_idx, cid
        assert g.n_sessions == sess[cid], cid


def test_stateful_parquet_sink_resume(spark, tmp_path):
    """Production sink for the stateful operator: foreachBatch writes each
    micro-batch's emissions to a batch_id partition with dynamic overwrite
    (a replayed batch overwrites itself -> exactly-once per batch id). The
    query is killed mid-drain, restarted on the SAME checkpoint (restoring
    per-conversation state), and final_state over the files equals the
    batch totals — counts, sums, last turn — for every conversation."""
    from addax_spark.streaming.stateful import final_state, run_state_to_parquet

    src = str(tmp_path / "ssink_src")
    out = str(tmp_path / "ssink_out")
    ckpt = str(tmp_path / "ssink_ckpt")
    os.makedirs(src)
    df = synth.transcripts(spark, n_convs=12, avg_turns=18)
    # turn-range files: conversations span batches (state must carry across
    # the kill/restart) while each conversation's turns arrive in order
    for lo, hi in [(0, 4), (4, 9), (9, 14), (14, 10**9)]:
        df.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    # phase 1: kill mid-drain (1 file per batch; bounded wait then stop)
    from addax_spark.streaming.rollup_stream import read_transcript_stream
    from addax_spark.streaming.stateful import stream_conversation_state

    q = (
        stream_conversation_state(read_transcript_stream(spark, src, 1))
        .writeStream.foreachBatch(
            lambda d, bid: d.withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(2.0)
    q.stop()
    q.awaitTermination()

    # phase 2: restart on the same checkpoint; full drain
    run_state_to_parquet(spark, src, out, ckpt, max_files_per_trigger=1)

    got = {r.conv_id: r for r in final_state(spark.read.parquet(out)).collect()}
    exp = {
        r.conv_id: r
        for r in df.groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("s"),
            F.max(F.struct("ts", "turn_idx")).alias("last"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for cid, e in exp.items():
        g = got[cid]
        assert g.n_turns == e.n and g.sum_len == e.s, cid
        assert g.last_turn_idx == e.last.turn_idx, cid


def test_stateful_timeout_evicts_state(spark, tmp_path):
    """ProcessingTimeTimeout expiry: the timed-out group is invoked with an
    EMPTY batch iterator (must not pd.concat-crash), emits a final row, and
    its state is REMOVED — a later arrival restarts the counts from zero."""
    import time

    from addax_spark.schema import TRANSCRIPTS
    from addax_spark.streaming.rollup_stream import read_transcript_stream
    from addax_spark.streaming.stateful import stream_conversation_state

    src = str(tmp_path / "timeout_src")
    os.makedirs(src)

    def arrive(conv, n, t0):
        rows = [(conv, i, "user", "x" * 5, None, t0 + i) for i in range(n)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string, _s long"
        ).select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.timestamp_seconds(F.col("_s")).alias("ts"),
        )
        spark.createDataFrame(df.collect(), TRANSCRIPTS).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    arrive("conv-a", 3, 1_700_000_000)
    q = (
        stream_conversation_state(
            read_transcript_stream(spark, src, max_files_per_trigger=1),
            evict_idle=True,
            idle_timeout_ms=500,
        )
        .writeStream.format("memory")
        .queryName("timeout_state")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        def wait_for(pred, desc, timeout=60):
            t0 = time.time()
            while time.time() - t0 < timeout:
                if pred():
                    return
                time.sleep(0.5)
            raise AssertionError(f"timed out waiting for {desc}")

        sink = lambda: spark.table("timeout_state")  # noqa: E731
        wait_for(lambda: sink().filter("conv_id = 'conv-a'").count() >= 1, "batch 1")
        time.sleep(2)  # let conv-a's 500ms processing-time timeout expire
        arrive("conv-b", 2, 1_700_000_100)  # a new batch fires the timeout
        wait_for(
            lambda: sink().filter("conv_id = 'conv-a'").count() >= 2,
            "timeout emission for conv-a",
        )
        # state was evicted: a later arrival restarts from zero
        arrive("conv-a", 2, 1_700_009_000)
        wait_for(
            lambda: sink().filter("conv_id = 'conv-a' and n_turns = 2").count() >= 1,
            "fresh state after eviction",
        )
        rows = sink().filter("conv_id = 'conv-a'").collect()
        assert any(r.n_turns == 3 for r in rows)  # pre-timeout total
        assert any(r.n_turns == 2 for r in rows)  # restarted, not 5
        assert not any(r.n_turns == 5 for r in rows), "state survived eviction"
    finally:
        q.stop()
