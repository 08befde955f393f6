"""Partitioning & skew policy (north_rule: explicit hash(conv_id) x
time-bucket partitioning, AQE skew handling).

The reference plans parallelism from byte/record budgets
(core/.../job/JobContainer.java:385-433) and avoids skew by sampling real
split points (lib/addax-rdbms/.../SingleTableSplitUtil.java:271-329 — its
comment: arithmetic split "causes data skew when the split key is not
uniform"). Spark-native equivalents:

- colocate_by_series(): ONE shuffle on hash(conv_id); every downstream
  groupBy whose key starts with conv_id (tier rollups on (conv_id, bucket),
  chunk encodes on (conv_id, chunk_start)) then satisfies its clustered
  distribution without further exchanges — the whole tier cascade becomes a
  single-shuffle pipeline. Trade-off: per-partition load follows conv size;
  use only when conversations are bounded (transcripts are — a conversation
  has thousands of turns, not billions).
- spread_to_parallelism(): round-robin an under-partitioned scan before a
  CPU-heavy Python map stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def colocate_by_series(df: DataFrame, n_partitions: int, key: str = "conv_id") -> DataFrame:
    """Hash-repartition by series key so tier rollups and chunk encodes run
    shuffle-free downstream: HashPartitioning(conv_id) is a subset of every
    grouping key (conv_id, bucket), which is exactly the condition Catalyst
    can PROVE, so no further Exchange is planned (verified in PLANS.md §2).

    Skew note: partitioning on (conv_id, date(ts)) would also be
    semantically colocated for day-aligned buckets and would spread hot
    conversations across days — but the planner cannot prove expression-
    derived colocation and re-adds exchanges, defeating the design. conv-only
    is safe because a conversation is bounded (thousands of turns — KBs to
    MBs) while a partition targets ~128 MiB: at 10^12 turns / ~10^9
    conversations, per-partition load is governed by the law of large
    numbers, and AQE skew handling remains on as the backstop."""
    return df.repartition(n_partitions, F.col(key))


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan has fewer partitions
    than the scheduler has slots — the guide-§2.5 'one unsplittable input
    file' fix, applied ONLY to inputs feeding CPU-heavy Python map stages
    (a single-file parquet table otherwise runs its whole mapInPandas on
    one core; measured 4x+ on the signature/simhash operators at sf0.1).
    Conditional: when the input is already at least as parallel as the
    scheduler — every real multi-file table at 100 TB — this returns the
    input unchanged, so no exchange is added at scale. Round-robin (not
    keyed) keeps batches size-balanced, and Spark's sort-before-repartition
    keeps the assignment deterministic under task retry."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
