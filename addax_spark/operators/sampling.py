"""Deterministic sampling for training-data mixes.

A 100 TB corpus pipeline needs reproducible sampling: "k documents per
stratum" (language, quality band, source) where re-running the job — at any
parallelism, on any cluster — picks the SAME documents. Engine-native
random() cannot do that; a content-derived hash order can, and it has an
exact cross-engine twin (functions.textfns.hash60), so the sample itself is
oracle-checkable.

Plan shape: rank-per-stratum compiles to Spark's WindowGroupLimit
(partial top-k below the shuffle + final above it), so each map task ships
at most k rows per stratum — the scan dominates, never the sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import hash60, hash60_sql


def stratified_sample(df: DataFrame, strata: list[str], k: int, salt: str = "") -> DataFrame:
    """First ``k`` rows per stratum in deterministic md5-hash order.

    The order key is hash60(id || salt): uniform pseudo-random, stable
    across runs/parallelism/engines, and steerable — a different ``salt``
    draws an independent sample (the knob for train/validation splits or
    re-draws). Ties cannot occur (ids unique per stratum), but doc_id is
    kept as a tiebreak so the contract is total-order even on duplicate
    ids. Output: the stratum columns, id, and ``sample_rank`` (1..k).
    """
    key = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(salt)))
    w = Window.partitionBy(*strata).orderBy(key.asc(), F.col("doc_id").asc())
    return (
        df.select(*strata, "doc_id")
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def stratified_sample_sql(source: str, strata: list[str], k: int) -> str:
    """DuckDB twin (unsalted): identical hash order via the portable hash60
    cast."""
    # doc_id || '': stratified_sample's hash60(doc_id || salt) at salt ""
    key = hash60_sql("CAST(doc_id AS VARCHAR) || ''")
    cols = ", ".join(strata)
    return f"""
SELECT {cols}, doc_id, sample_rank FROM (
  SELECT {cols}, doc_id,
         row_number() OVER (PARTITION BY {cols} ORDER BY {key} ASC, doc_id ASC) AS sample_rank
  FROM {source}
)
WHERE sample_rank <= {k}
"""
