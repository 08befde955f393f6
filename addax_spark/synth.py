"""Deterministic synthetic transcript generator (FIXTURES.md F1).

Re-expresses the reference's ``streamreader`` synthetic generator
(plugin/reader/streamreader/.../StreamReader.java:413-583: constant /
random(min,max) / incr(start,step,unit) columns) as a Spark-native,
*seeded hash-based* generator: every cell is a pure function of
(conv_id, turn_idx, seed) via xxhash64, so output is identical at any
parallelism / partitioning (unlike ``F.rand()``, whose draw depends on
partition layout — the reason the reference's random() generator can't be
reproduced across channel counts).

Shape (BASELINE.json input_hint):
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Skew: ~1% of conversations are "hot" with ~43x the turns of a cold one
(hot share of turns ~= 30%) — exercises the AQE-skew path.
Holes: selected conversations jump 2-50 minutes between some turns —
exercises gap-fill LOCF / linear interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "python", "browser", "sql", "bash", "editor", "calc", "fetch"]
EPOCH = "2025-01-01 00:00:00"
HOT_MULT = 43  # 1% hot convs * 43x turns -> ~30% of total turns


def _h(*cols) -> F.Column:
    """Stable 64-bit hash of the given columns (xxhash64, seed-independent
    of partitioning)."""
    return F.xxhash64(*cols)


def transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    avg_turns: int = 40,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Generate a deterministic transcripts DataFrame.

    Turn count per conversation: hot convs (i < 1% of C) get HOT_MULT *
    avg_turns; cold convs get avg_turns/2 + hash % avg_turns (mean ~avg).
    Timestamps: per-conv start in the first day of 2025 + cumulative
    deterministic inter-turn gaps of 1..300s, with injected multi-minute
    holes on every 7th turn of every 5th conversation. The fixed edge-case
    rows of :func:`_edge_cases` are always appended.
    """
    s = F.lit(seed)
    n_hot = max(1, n_convs // 100) if n_convs >= 100 else 0
    convs = (
        spark.range(n_convs, numPartitions=partitions or min(n_convs, 64))
        .withColumn("conv_id", F.format_string("conv-%06d", F.col("id")))
        .withColumn(
            "n_turns",
            F.when(F.col("id") < n_hot, F.lit(HOT_MULT * avg_turns)).otherwise(
                F.lit(max(1, avg_turns // 2))
                + F.pmod(_h(F.col("conv_id"), F.lit("nt"), s), F.lit(avg_turns))
            ).cast("int"),
        )
        .withColumn(
            "conv_start",
            F.to_timestamp(F.lit(EPOCH))
            + F.make_interval(secs=F.pmod(_h(F.col("conv_id"), F.lit("st"), s), F.lit(86400))),
        )
        .withColumn("holey", F.pmod(_h(F.col("conv_id"), F.lit("hole"), s), F.lit(5)) == 0)
    )

    turns = convs.select(
        "conv_id",
        "conv_start",
        "holey",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))

    h = _h(F.col("conv_id"), F.col("turn_idx"), s)
    # inter-turn gap in seconds; holes add 2..50 minutes
    gap = F.lit(1) + F.pmod(_h(F.col("conv_id"), F.col("turn_idx"), F.lit("gap"), s), F.lit(300))
    hole_gap = F.when(
        F.col("holey") & (F.pmod(F.col("turn_idx"), F.lit(7)) == 3),
        F.lit(120) + F.pmod(_h(F.col("conv_id"), F.col("turn_idx"), F.lit("hg"), s), F.lit(49)) * 60,
    ).otherwise(F.lit(0))

    # deterministic pseudo-text body: hex of 4 independent hashes, tiled
    body = F.repeat(
        F.concat(
            *[F.lower(F.hex(_h(F.col("conv_id"), F.col("turn_idx"), F.lit(f"b{k}"), s))) for k in range(4)]
        ),
        16,
    )
    text_len = F.lit(50) + F.pmod(_h(F.col("conv_id"), F.col("turn_idx"), F.lit("len"), s), F.lit(950))

    df = (
        turns.withColumn("gap_s", (gap + hole_gap).cast("long"))
        # cumulative gap -> ts; exact integer window sum, deterministic
        .withColumn(
            "ofs_s",
            F.sum("gap_s").over(
                Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("ts", F.col("conv_start") + F.make_interval(secs=F.col("ofs_s")))
        .withColumn("role", F.element_at(F.array(*[F.lit(r) for r in ROLES]), (F.pmod(h, F.lit(3)) + 1).cast("int")))
        .withColumn(
            "tool",
            F.when(
                F.col("role") == "tool",
                F.element_at(
                    F.array(*[F.lit(t) for t in TOOLS]),
                    (F.pmod(_h(F.col("conv_id"), F.col("turn_idx"), F.lit("tool"), s), F.lit(8)) + 1).cast("int"),
                ),
            ),
        )
        .withColumn(
            "text",
            F.concat(F.lit("t"), F.col("turn_idx").cast("string"), F.lit(":"), F.substring(body, 1, 1024).substr(F.lit(1), text_len)),
        )
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    return df.unionByName(_edge_cases(spark))


def _edge_cases(spark: SparkSession) -> DataFrame:
    """Fixed edge rows (FIXTURES.md F1): 1-turn conversation; conversation
    inside a single 1m bucket; identical-ts tie (turn_idx breaks it);
    delimiter/quote/newline/multibyte text; exactly-on-boundary timestamps."""
    rows = [
        ("edge-single", 0, "user", "only turn", None, "2025-01-02 00:00:30"),
        ("edge-onebucket", 0, "user", "a", None, "2025-01-02 10:00:01"),
        ("edge-onebucket", 1, "assistant", "b", None, "2025-01-02 10:00:20"),
        ("edge-onebucket", 2, "user", "c", None, "2025-01-02 10:00:59"),
        ("edge-tie", 0, "user", "first-at-tie", None, "2025-01-02 11:00:00"),
        ("edge-tie", 1, "assistant", "second-at-tie", None, "2025-01-02 11:00:00"),
        ("edge-utf8", 0, "user", 'comma,quote"|newline\nتجربة 你好 🚀 tab\t;', None, "2025-01-02 12:34:56"),
        # exactly on minute/hour/day boundaries
        ("edge-boundary", 0, "user", "on-day", None, "2025-01-03 00:00:00"),
        ("edge-boundary", 1, "assistant", "on-hour", None, "2025-01-03 05:00:00"),
        ("edge-boundary", 2, "tool", "on-minute", "sql", "2025-01-03 05:01:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    )
    return df.select(
        "conv_id", "turn_idx", "role", "text", "tool", F.to_timestamp("ts_s").alias("ts")
    )
