"""Similarity search over embedding columns.

- brute_topk: exact cosine top-k (the correctness baseline; a broadcast
  join of the query set against the corpus — at 100 TB this is the verifier
  run on samples, not the serving path).
- ann_lsh: random-hyperplane LSH bucketing — deterministic hyperplanes
  derived from md5 (no RNG state), multi-table probing, exact re-rank of
  candidates. Approximate: verified by recall tests, not a SQL oracle.
- ann_ivf: inverted-file index — k-means centroids trained on a bounded
  deterministic sample, corpus vectors assigned to their nearest centroid
  (one matmul per Arrow batch), queries probe the nprobe nearest lists,
  exact re-rank. The second canonical ANN scale path next to LSH: the
  candidate join shuffles on centroid id and scans ~nprobe/n_centroids of
  the corpus per query.

Vector math uses F.aggregate/F.zip_with left-folds in double — sequential,
deterministic, matching the oracle's list_reduce fold order.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.partitioning import spread_to_parallelism

#: training-sample cap of ivf_train_centroids (a few hundred MB of vectors)
IVF_MAX_SAMPLE = 262_144
#: spherical k-means rounds of ivf_train_centroids
IVF_ITERS = 5


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def brute_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine for each query vector (query id col: `q_id`).

    queries is broadcast (small side); rank ties broken by corpus id —
    fully deterministic output (rank, rounded cosine)."""
    c = corpus.select(F.col("vec_id").alias("c_id"), _as_double("embedding").alias("cv")).withColumn(
        "cn", _norm(F.col("cv"))
    )
    q = queries.select(F.col("q_id"), _as_double("embedding").alias("qv")).withColumn(
        "qn", _norm(F.col("qv"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .withColumn("cos", _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")))
        .select("q_id", "c_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("cos", 9).alias("cosine"))
    )


def brute_topk_sql(k: int, query_ids: list[int]) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE))), (a, x) -> a + x)) AS n
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(c.v)), i -> c.v[i] * q.v[i])), (a, x) -> a + x)
           / (c.n * q.n) AS cos
  FROM v c JOIN v q ON q.vec_id IN ({ids}) AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT q_id, c_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, rank, c_id, round(cos, 9) AS cosine FROM ranked WHERE rank <= {k}
"""


def _exact_rerank(cands: DataFrame, k: int) -> DataFrame:
    """(q_id, c_id, cv_raw, qv_raw) candidates -> exact cosine re-rank,
    top-k per query with the shared (rank, rounded cosine) output contract
    (used by both the LSH and IVF candidate generators)."""
    cv = F.transform(F.col("cv_raw"), lambda x: x.cast("double"))
    qv = F.transform(F.col("qv_raw"), lambda x: x.cast("double"))
    scored = cands.withColumn("cos", _dot(cv, qv) / (_norm(cv) * _norm(qv)))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", F.round("cos", 9).alias("cosine"))
    )


# ----------------------------------------------------------------- LSH / ANN


@functools.lru_cache(maxsize=8)
def _hyperplanes(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes, table-major as one
    (n_tables * n_planes, dim) matrix: md5-seeded standard normals (no global
    RNG; same planes on every executor/run). A width-d plane is the first d
    normals of its seed, so narrower corpora get prefixes of wider planes."""
    out = np.empty((n_tables * n_planes, dim))
    for t in range(n_tables):
        for p in range(n_planes):
            seed = int.from_bytes(hashlib.md5(f"t{t}:plane:{p}".encode()).digest()[:8], "big")
            out[t * n_planes + p] = np.random.RandomState(seed % (2**32)).standard_normal(dim)
    out.flags.writeable = False  # cached: every caller gets this one array
    return out


def lsh_buckets(V: np.ndarray, n_planes: int, n_tables: int) -> np.ndarray:
    """(rows, n_tables) sign-pattern bucket ids of the rows of ``V``: bit p of
    table t's id is (v . plane_p) > 0, over planes as wide as ``V``. Every
    table's bits come from ONE matmul: a codegen'd literal-array fold per
    plane spent ~9s in codegen/planning alone at 12 tables."""
    bits = (V @ _hyperplanes(V.shape[1], n_planes, n_tables).T) > 0
    return bits.reshape(len(V), n_tables, n_planes) @ (1 << np.arange(n_planes, dtype=np.int64))


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 12,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing an LSH bucket
    with the query in ANY of n_tables hash tables; exact cosine re-rank.

    Scale path: bucket join replaces the all-pairs cross join — shuffle on
    (table, bucket). Recall follows the random-hyperplane bound
    1-(1-(1-theta/pi)^planes)^tables: the driver corpus has weak neighbor
    structure (top-1 cosine ~0.37 -> theta/pi ~0.38), so defaults are tuned
    shallow-and-wide (4 planes x 12 tables -> expected recall@10 ~0.8,
    asserted in tests). Tightly clustered real embeddings support more
    planes (smaller buckets) at the same recall."""
    import pandas as pd

    def with_buckets(df: DataFrame, idc: str) -> DataFrame:
        vec_field = df.schema["embedding"].dataType.simpleString()
        id_field = df.schema[idc].dataType.simpleString()

        def bucketize(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
                b = lsh_buckets(V, n_planes, n_tables)
                out = []
                for t in range(n_tables):
                    out.append(
                        pd.DataFrame(
                            {
                                idc: pdf[idc].to_numpy(),
                                "embedding": pdf["embedding"].to_numpy(),
                                "tbl": t,
                                "bucket": b[:, t],
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        return df.select(idc, "embedding").mapInPandas(
            bucketize, schema=f"{idc} {id_field}, embedding {vec_field}, tbl int, bucket long"
        )

    # neither side is spread_to_parallelism'd: the per-row matmul here is
    # trivial (one (batch x planes) product), so parallelizing the corpus
    # scan buys less than the extra exchange costs (measured 1.47 -> 1.66 s
    # regression at sf0.1); the heavy work lands after the (tbl, bucket)
    # shuffle anyway
    cb = with_buckets(corpus, "vec_id").withColumnRenamed("vec_id", "c_id").withColumnRenamed(
        "embedding", "cv_raw"
    )
    qb = with_buckets(queries, "q_id").withColumnRenamed("embedding", "qv_raw")
    cands = (
        cb.join(qb, ["tbl", "bucket"])
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", "cv_raw", "qv_raw")
        .dropDuplicates(["q_id", "c_id"])
    )
    return _exact_rerank(cands, k)


# ----------------------------------------------------------------- IVF / ANN


def ivf_train_centroids(corpus: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Deterministic spherical k-means centroids for an IVF index.

    Trains on a BOUNDED deterministic sample (the IVF_MAX_SAMPLE lowest ids)
    collected to the driver in id-sorted order — the standard IVF recipe
    (train on a sample, assign the full corpus distributed). Determinism:
    fixed id-sort, evenly-spaced init over the sorted sample, numpy
    float64 reductions in a single process — no RNG, no partition-order
    dependence (a distributed mean would sum floats in nondeterministic
    partition order and flip assignments run-to-run). Spherical: vectors
    L2-normalized, centroid = normalized mean, similarity = dot == cosine.
    Empty clusters re-seed deterministically from the farthest points.
    """
    s = corpus.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    rows = s.orderBy("_id").limit(IVF_MAX_SAMPLE).collect()
    V = np.stack([np.asarray(r._v, dtype=np.float64) for r in rows])
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    n = len(V)
    k = min(n_centroids, n)
    C = V[np.linspace(0, n - 1, k).astype(np.int64)].copy()
    for _ in range(IVF_ITERS):
        sim = V @ C.T  # (n, k)
        assign = sim.argmax(axis=1)
        for j in range(k):
            members = V[assign == j]
            if len(members):
                m = members.sum(axis=0)
                C[j] = m / np.linalg.norm(m)
            else:
                # deterministic re-seed: the point least similar to its centroid
                far = (sim.max(axis=1)).argmin()
                C[j] = V[far]
    return C


def ann_ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_centroids: int = 16, nprobe: int = 6
) -> DataFrame:
    """Approximate top-k via an inverted-file index: every corpus vector is
    assigned to its nearest centroid (one matmul per Arrow batch), each
    query probes its ``nprobe`` nearest lists, and the candidates get an
    exact cosine re-rank (same (rank, rounded cosine) output contract as
    brute_topk / ann_lsh_topk).

    Scale shape: the candidate join shuffles on the centroid id, so a query
    touches ~nprobe/n_centroids of the corpus instead of all of it, and the
    corpus-side assignment is embarrassingly parallel. Recall on a FIXED
    corpus is deterministic (training, assignment and probing are all
    deterministic), so — like embedding_lsh_pairs — a (n_centroids, nprobe)
    setting with measured recall 1.0 can be driver-checked against the
    exact brute-force oracle."""
    import pandas as pd

    C = ivf_train_centroids(corpus, n_centroids)

    def assigner(idc: str, out_id: str, probes: int):
        def assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                sim = Vn @ C.T
                if probes == 1:
                    yield pd.DataFrame(
                        {
                            out_id: pdf[idc].to_numpy(),
                            "embedding": pdf["embedding"].to_numpy(),
                            "cid": sim.argmax(axis=1).astype(np.int32),
                        }
                    )
                else:
                    top = np.argsort(-sim, axis=1, kind="stable")[:, :probes]
                    reps = np.repeat(np.arange(len(V)), probes)
                    yield pd.DataFrame(
                        {
                            out_id: pdf[idc].to_numpy()[reps],
                            "embedding": pdf["embedding"].to_numpy()[reps],
                            "cid": top.ravel().astype(np.int32),
                        }
                    )

        return assign

    vec_t = corpus.schema["embedding"].dataType.simpleString()
    id_t = corpus.schema["vec_id"].dataType.simpleString()
    cb = spread_to_parallelism(corpus.select("vec_id", "embedding")).mapInPandas(
        assigner("vec_id", "c_id", 1), schema=f"c_id {id_t}, embedding {vec_t}, cid int"
    ).withColumnRenamed("embedding", "cv_raw")
    qb = queries.select("q_id", "embedding").mapInPandas(
        assigner("q_id", "q_id", nprobe),
        schema=f"q_id {queries.schema['q_id'].dataType.simpleString()}, embedding {vec_t}, cid int",
    ).withColumnRenamed("embedding", "qv_raw")
    cands = (
        cb.join(qb, "cid")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", "cv_raw", "qv_raw")
    )
    return _exact_rerank(cands, k)
