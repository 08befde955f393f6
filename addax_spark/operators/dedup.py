"""Deduplication operators for training-data pipelines.

- exact_dedup: hash-groupBy on normalized text (one shuffle, min-id winner).
- minhash_lsh_pairs: shingle -> k minhashes -> banded LSH buckets ->
  candidate pairs -> exact-Jaccard verification. The scale path: candidate
  generation is a self-join on (band, signature) buckets — linear in corpus
  size + bucket collisions, never all-pairs.
- simhash64: 64-bit SimHash via per-bit vote aggregation (64 JVM sum
  columns, no UDF).
- ngram_jaccard_pairs: exact all-pairs Jaccard (the small-N oracle path /
  verifier; LSH is the 100 TB path).
- embedding_cosine_pairs: near-duplicate pairs by cosine over an embedding
  column (brute-force pair join; the ANN variant lives in similarity.py).

Hashing is md5-derived everywhere (portable to the DuckDB oracle — see
functions.textfns.hash60). Per-seed rehash h_i(s) = hash60(i || ':' || s)
avoids 128-bit modular arithmetic and stays engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import hash60, hash60_sql, shingles_expr_sql, tokens, tokens_sql, word_shingles
from ..plans.partitioning import spread_to_parallelism as _spread

K_HASHES = 64
BANDS = 32  # r = K/BANDS = 2 rows per band
#: hash-partitioned blocks of the exact embedding pair grid
N_BLOCKS = 16
#: min-label propagation rounds before dedup_clusters gives up: near-dup
#: clusters are shallow, their diameter is far below this
MAX_ITERS = 20


def normalized(c: Column) -> Column:
    """lower + whitespace-collapse (the dedup key normalization)."""
    return F.concat_ws(" ", tokens(F.lower(c)))


def normalized_sql(expr: str) -> str:
    return f"array_to_string({tokens_sql(f'lower({expr})')}, ' ')"


# --------------------------------------------------------------- exact dedup


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative per normalized-text hash.

    One shuffle on the 128-bit content hash; at 100 TB this is the classic
    first pass (hash is tiny vs text; shuffle carries (hash, id) pairs only).
    """
    h = F.md5(normalized(F.col("text")))
    return (
        df.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup_sql() -> str:
    return f"""
SELECT md5(norm) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM (SELECT doc_id, {normalized_sql('text')} AS norm FROM documents)
GROUP BY content_hash
"""


# ------------------------------------------------------------- MinHash + LSH


def minhash_signatures(df: DataFrame) -> DataFrame:
    """K_HASHES-minhash signature per doc, computed in ONE vectorized numpy pass
    per Arrow batch (``mapInPandas``) — no explode, no shuffle, no per-row
    Python: all shingles of a batch are hashed with pandas' deterministic
    siphash (``pd.util.hash_array``), the (n_shingles, K_HASHES) Kirsch-Mitzenmacher
    matrix ``(h1 + i*h2) mod p`` is built by broadcasting, and per-doc mins
    fall out of one ``np.minimum.reduceat`` over the doc offsets.

    Replaces the round-1 explode -> 64 JVM min() aggregates (the whole-bench
    hotspot, 26 s at sf0.1): same signature model, but zero shuffle — the
    signature is embarrassingly map-side (VERDICT r1 item 4). Signature
    hashes only steer LSH candidate generation; exact parity comes from the
    downstream exact-Jaccard verify, so the hash needs determinism, not an
    oracle twin. Docs with no shingle (< n tokens) yield no row, matching
    the old explode/groupBy inner semantics.
    """
    import numpy as np
    import pandas as pd

    p = np.uint64((1 << 31) - 1)
    idx = np.arange(K_HASHES, dtype=np.uint64)
    id_t = df.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_t}, " + ", ".join(f"mh{i} long" for i in range(K_HASHES))

    def sig_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, offs, all_sh = [], [0], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                w = (t or "").split()
                grams = sorted({" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 0))})
                if not grams:
                    continue  # inner semantics: shingle-less docs drop out
                ids.append(doc_id)
                all_sh.extend(grams)
                offs.append(len(all_sh))
            if not ids:
                continue
            arr = np.asarray(all_sh, dtype=object)
            h1 = pd.util.hash_array(arr) % p
            h2 = pd.util.hash_array(arr, hash_key="fedcba98765432100123456789abcdef"[:16]) % p + np.uint64(1)
            # (S, k); max term ~2^31 + 64*2^31 < 2^38 — no uint64 overflow
            vals = (h1[:, None] + idx[None, :] * h2[:, None]) % p
            mins = np.minimum.reduceat(vals, np.asarray(offs[:-1]), axis=0).astype(np.int64)
            out = pd.DataFrame(mins, columns=[f"mh{i}" for i in range(K_HASHES)])
            out.insert(0, "doc_id", ids)
            yield out

    return _spread(df.select("doc_id", "text")).mapInPandas(sig_batches, schema=schema)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidates.

    Self-join happens per (band, band_sig) bucket — the shuffle key — so
    cost scales with bucket occupancy, not corpus^2."""
    r = K_HASHES // BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{b * r + j}") for j in range(r)]).alias("sig"),
        )
        for b in range(BANDS)
    ]
    buckets = sigs.select(
        F.col("doc_id"), F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig"))
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact word-3gram Jaccard on candidate pairs (join back to shingle sets).

    The shingle side is first semi-joined down to documents that actually
    appear in a candidate pair, so the heavy shingle arrays are computed and
    shuffled only for the sparse candidate subset — at 100 TB the
    non-candidate bulk never leaves the scan. Every join here is a
    SHUFFLE_HASH join (executor-to-executor, the embedding exact path's own
    pattern): the candidate-id set and the pair table both scale
    O(corpus x dup_rate), so forcing them through a driver broadcast — the
    pre-r6 shape — is a hard job failure at 100x scale (CLAUDE.md: "never
    F.broadcast a DataFrame that grows with the corpus"; plan-asserted in
    tests/test_training_ops.py::test_jaccard_verify_no_driver_broadcast).
    At cluster scale Spark's runtime Bloom-filter injection (SPARK-32268,
    on by default) prunes the corpus scan side of the semi-join.
    """
    cand_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = df.join(cand_ids.hint("SHUFFLE_HASH"), "doc_id", "leftsemi").select(
        F.col("doc_id"), word_shingles(F.col("text")).alias("sh")
    )
    out = (
        pairs
        .join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a")
                .hint("SHUFFLE_HASH"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b")
                .hint("SHUFFLE_HASH"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "uni",
            (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.when(F.col("uni") > 0, F.col("inter").cast("double") / F.col("uni")).otherwise(0.0),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "uni", "jaccard")


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """signatures -> banded LSH candidates -> exact-Jaccard verify.

    Eager executor-local checkpoints pin the two fan-out points: the
    signature stage is consumed TWICE by the bucket self-join and the
    candidate stage THREE times by the verify (the pair join + the two
    legs of the candidate-id semi-join) — left
    lazy, Spark re-runs the whole upstream pipeline per consumer (measured
    6.0 s -> 2.1 s at sf0.1). Candidates are sparse by design, so both
    checkpoints are small relative to the corpus; at full 100 TB scale the
    natural form of the same break is WRITING signatures/pairs to a table
    between stages (as the cluster/serving builds do), which also restores
    lineage-free fault tolerance."""
    sigs = minhash_signatures(df).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs).localCheckpoint(eager=True)
    return jaccard_verify(cands, df, threshold)


def ngram_jaccard_pairs_sql(threshold: float = 0.5) -> str:
    """Oracle: exact all-pairs Jaccard (recomputes what LSH+verify finds —
    at verification threshold >= LSH design threshold, recall is ~1 by the
    banding bound 1-(1-s^r)^b; parity failures would expose missed pairs)."""
    sh = shingles_expr_sql("w")
    return f"""
WITH s AS (
  SELECT doc_id, {sh} AS sh
  FROM (SELECT doc_id, {tokens_sql('text')} AS w FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS uni,
       CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
            THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            ELSE 0.0 END AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
           THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
           ELSE 0.0 END >= {threshold}
"""


# ------------------------------------------------------------------- SimHash


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash: per-token 60-bit md5 hash, per-bit +/-1 votes summed
    with multiplicity, sign -> bit. (60 bits: hash60 = 15 md5 hex chars.)

    Map-side like minhash_signatures: ONE numpy pass per Arrow batch — no
    explode, no shuffle (the r2 plan shuffled doc_id x token rows into a
    60-column vote agg; partial aggregation bounded it but the mapInPandas
    form removes the exchange entirely). Python md5 runs once per UNIQUE
    token per batch (np.unique), bit votes fall out of one reduceat over
    doc offsets. Token split and md5-hex-prefix hash are kept bit-identical
    to functions.textfns.tokens/hash60, so the DuckDB oracle
    (:func:`simhash64_sql`) still matches exactly — asserted by the driver
    compare at sf0.01.

    Semantics preserved: occurrences vote (not distinct tokens), token-less
    or null docs drop out (the old explode/groupBy inner behavior), vote
    ties (sum 0) give bit 0.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    id_t = df.schema["doc_id"].dataType.simpleString()
    bit_idx = np.arange(60, dtype=np.int64)

    def sim_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, offs, toks = [], [0], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                # ASCII whitespace class ONLY — Python's \s is Unicode-aware
                # while the JVM twin (Java regex \s = [ \t\n\x0b\f\r]) and
                # the DuckDB RE2 oracle are ASCII; a Unicode space (NBSP)
                # must stay inside its token in all three engines
                w = [x for x in re.split(r"[ \t\n\x0b\f\r]+", t or "") if x]
                if not w:
                    continue
                ids.append(doc_id)
                toks.extend(w)
                offs.append(len(toks))
            if not ids:
                continue
            uniq, inv = np.unique(np.asarray(toks, dtype=object), return_inverse=True)
            h = np.fromiter(
                (int(hashlib.md5(u.encode("utf-8")).hexdigest()[:15], 16) for u in uniq),
                dtype=np.int64,
                count=len(uniq),
            )
            pm = ((h[:, None] >> bit_idx[None, :]) & 1) * 2 - 1  # (U, 60) in {-1,+1}
            votes = np.add.reduceat(pm[inv], np.asarray(offs[:-1]), axis=0)
            sim = ((votes > 0).astype(np.int64) << bit_idx[None, :]).sum(axis=1)
            yield pd.DataFrame({"doc_id": ids, "simhash": sim})

    return _spread(df.select("doc_id", "text")).mapInPandas(
        sim_batches, schema=f"doc_id {id_t}, simhash long"
    )


def simhash64_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    recomb = " + ".join(f"(CASE WHEN v{b} > 0 THEN 1::BIGINT ELSE 0 END) * {1 << b}::BIGINT" for b in range(60))
    return f"""
SELECT doc_id, {recomb} AS simhash
FROM (
  SELECT doc_id, {votes}
  FROM (
    SELECT doc_id, {hash60_sql('tok')} AS h
    FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents)
  )
  GROUP BY doc_id
)
"""


# ------------------------------------------------------- cluster assignment


def dedup_clusters(df: DataFrame, pairs: DataFrame, reliable_checkpoint: bool = False) -> DataFrame:
    """Connected components over the near-dup pair graph: every document is
    assigned its cluster representative (the MIN id reachable through pairs;
    singletons map to themselves). This is the step that turns a pair list
    into a keep/drop decision for a training corpus.

    Iterative min-label propagation: each round, every node takes the min of
    its own label and its neighbors' labels — one shuffle join + one
    aggregation per round over the (sparse, candidate-sized) edge list, so
    cost scales with pairs, not corpus^2. The iteration runs ONLY over
    nodes that appear in some pair (r6): a node with no edges can never
    change label, so looping it through every round is pure waste — at
    100 TB the label table inside the loop is O(corpus x dup_rate), not
    O(corpus); singletons get cluster_id = their own id in one final
    left join. Rounds needed = component diameter; near-dup clusters are
    shallow (a dup cluster's diameter is small by construction), and the
    loop stops as soon as a round changes nothing. Checkpointing truncates the per-iteration lineage — without it
    the plan doubles every round and the driver dies planning, the classic
    iterative-algorithm failure on Spark.

    ONE driver action per round: the changed-label count rides the round's
    materializing ``count()`` as an ``observe`` metric over a ``_chg`` flag
    computed in the propagation select itself (min-propagation is monotone,
    so new_label != label is exactly "this node changed"), and the round's
    checkpoint is LAZY — the same action materializes it. The previous
    shape (eager checkpoint, then a join+count change check) ran two
    sequential jobs per round: 2*diameter driver-latency turns.

    ``reliable_checkpoint=True`` uses ``df.checkpoint()`` (requires
    ``spark.sparkContext.setCheckpointDir``) instead of ``localCheckpoint``:
    local checkpoint blocks live only in executor storage, so an executor
    loss mid-loop kills the job unrecoverably — fine single-box, wrong for
    a long cluster run. Reliable checkpointing re-runs the round's plan in
    a second save job (Spark's documented checkpoint cost), trading one
    extra job per round for fault tolerance.

    Deterministic: min() over ids; no randomness anywhere.
    """
    from pyspark.sql import Observation

    def _ckpt(d: DataFrame, eager: bool) -> DataFrame:
        if reliable_checkpoint:
            return d.checkpoint(eager=eager)
        return d.localCheckpoint(eager=eager)

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = _ckpt(
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct(),
        eager=True,
    )

    # edges already holds both directions, so src alone covers every
    # endpoint; only these nodes can ever change label
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    labels = _ckpt(labels, eager=True)
    converged = False
    for _ in range(MAX_ITERS):
        nb = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nb_label"))
        )
        new_label = F.least(F.col("label"), F.coalesce("nb_label", "label"))
        new = _ckpt(
            labels.join(nb, "doc_id", "left").select(
                F.col("doc_id"),
                new_label.alias("label"),
                (new_label != F.col("label")).cast("long").alias("_chg"),
            ),
            eager=False,
        )
        obs = Observation()
        # the count() both materializes the lazy checkpoint AND collects the
        # CollectMetrics sum — no second change-check job
        new.observe(obs, F.sum("_chg").alias("n_changed")).count()
        n_changed = obs.get["n_changed"] or 0
        labels = new.drop("_chg")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        # returning partially-propagated labels would split one component
        # across cluster_ids — a silent-wrong keep/drop decision
        raise RuntimeError(
            f"dedup_clusters did not converge in {MAX_ITERS} rounds "
            "(component diameter exceeds MAX_ITERS)"
        )
    # re-attach singletons: every document not in any pair keeps itself
    return (
        df.select(F.col("doc_id"))
        .distinct()
        .join(labels, "doc_id", "left")
        .select(F.col("doc_id"), F.coalesce("label", F.col("doc_id")).alias("cluster_id"))
    )


def keep_representatives(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """The keep/drop decision a corpus-curation run actually ships: one
    representative per near-dup cluster, chosen by (quality DESC, id ASC) —
    every document gets a row with its cluster, its quality, and a boolean
    ``keep`` (singletons keep themselves). Deterministic: the quality tie
    breaks on the id, so the kept set is a fixed row set at any parallelism.

    One shuffle on cluster_id for the ranking window; rows = corpus size,
    so the plan scales like any keyed window — no all-pairs anything.
    ``quality`` is any (id, quality) table; operators.text.quality_score
    provides the standard one.
    """
    from pyspark.sql import Window

    # left join: a document without a quality row still gets a decision
    # (ranked after scored docs, nulls-last made EXPLICIT so the oracle and
    # any engine agree), honoring the every-document-gets-a-row contract
    j = clusters.join(quality.select("doc_id", "quality"), "doc_id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc_nulls_last(), F.col("doc_id")
    )
    return j.select(
        F.col("doc_id"),
        F.col("cluster_id"),
        F.col("quality"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def keep_representatives_sql(threshold: float = 0.5) -> str:
    """Oracle: clusters via the recursive-CTE closure, quality via the
    exact-ratio feature SQL, representative by the same (quality DESC, id)
    window — the full curation pipeline recomputed independently."""
    from .text import quality_score_sql

    return f"""
WITH c AS ({dedup_clusters_sql(threshold)}),
q AS ({quality_score_sql()})
SELECT c.doc_id, c.cluster_id, q.quality,
       (row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY q.quality DESC NULLS LAST, c.doc_id) = 1) AS keep
FROM c LEFT JOIN q ON c.doc_id = q.doc_id
"""


def dedup_clusters_sql(threshold: float = 0.5) -> str:
    """Oracle: transitive closure by recursive CTE over the SAME exact
    all-pairs Jaccard edges; cluster = min reachable id."""
    return f"""
WITH RECURSIVE p AS ({ngram_jaccard_pairs_sql(threshold)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL
  SELECT id_b, id_a FROM p
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


# --------------------------------------------------- embedding cosine dedup


def _exact_cosine_verify(cands: DataFrame, df: DataFrame, threshold: float) -> DataFrame:
    """Exact sequential-fold cosine on candidate pairs (oracle semantics:
    the same left-fold order DuckDB's list_reduce uses — bit-exact doubles,
    rounded to 9 dp). Vectors are joined back only for candidate ids."""
    v = df.select(
        F.col("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 9).alias("cosine"))
    )


def embedding_cosine_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Near-duplicate pairs by cosine — exact, fully distributed.

    Phase 1 prunes with a DISTRIBUTED block matmul: the corpus is packed
    into ``N_BLOCKS`` single-row blocks (native-typed id array + a
    normalized float64 matrix, serialized) keyed by hash(id); every block
    pair (upper triangle, N_BLOCKS*(N_BLOCKS+1)/2 tasks) is scored with one
    numpy matmul and emits ids with cos >= threshold - 1e-6. Nothing
    touches the driver: each block EXPLODES to its upper-triangle partner
    keys and meets the partner payload in a SHUFFLE_HASH join on the block
    id — no broadcast (a Spark broadcast routes the build side through
    driver memory), no toPandas. The matmul differs from a sequential fold
    by ~1e-12 relative, so the 1e-6 margin makes the prefilter provably
    lossless.

    Phase 2 recomputes survivors with the oracle's sequential fold —
    bit-exact output. The O(n^2) block grid is inherent to the EXACT
    verifier (size blocks ~50 MB and it parallelizes to the cluster);
    the sub-quadratic scale path is :func:`embedding_lsh_pairs`.

    Ids keep their source dtype end to end (long/string/... — packed as a
    typed array column, compared with numpy elementwise min/max).
    """
    import numpy as np
    import pandas as pd

    margin = threshold - 1e-6
    id_t = df.schema["vec_id"].dataType.simpleString()
    blk = F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(N_BLOCKS)).alias("_blk")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        return pd.DataFrame(
            {
                "blk": [int(pdf["_blk"].iloc[0])],
                "ids": [pdf["vec_id"].tolist()],
                "mat": [M.tobytes()],
                "n": [len(pdf)],
                "dim": [M.shape[1]],
            }
        )

    packed = (
        df.select(blk, F.col("vec_id"), F.col("embedding"))
        .groupBy("_blk")
        .applyInPandas(pack, schema=f"blk int, ids array<{id_t}>, mat binary, n int, dim int")
    )
    # upper-triangle pair grid WITHOUT a broadcast: the a-side block fans out
    # to one row per partner block id, then a shuffle join keyed on that id
    # attaches the partner payload — block bytes move executor-to-executor
    a_exp = packed.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
        F.col("n").alias("n_a"),
        F.col("dim").alias("dim"),
        F.explode(F.sequence(F.col("blk"), F.lit(N_BLOCKS - 1))).alias("blk_b"),
    )
    b_side = packed.select(
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
        F.col("n").alias("n_b"),
    )
    grid = a_exp.join(b_side.hint("SHUFFLE_HASH"), "blk_b")

    def score(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ia = np.asarray(row.ids_a)
                ib = np.asarray(row.ids_b)
                A = np.frombuffer(row.mat_a, dtype=np.float64).reshape(row.n_a, row.dim)
                Bm = np.frombuffer(row.mat_b, dtype=np.float64).reshape(row.n_b, row.dim)
                sims = A @ Bm.T
                qa, ca = np.nonzero(sims >= margin)
                lo = np.minimum(ia[qa], ib[ca])
                hi = np.maximum(ia[qa], ib[ca])
                keep = lo < hi  # drops self-pairs on the diagonal block
                if keep.any():
                    out = pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})
                    yield out.drop_duplicates()  # diagonal block sees (i,j) twice

    cands = grid.repartition(N_BLOCKS).mapInPandas(
        score, schema=f"id_a {id_t}, id_b {id_t}"
    ).dropDuplicates(["id_a", "id_b"])
    return _exact_cosine_verify(cands, df, threshold)


def embedding_lsh_pairs(
    df: DataFrame, threshold: float = 0.95, n_planes: int = 4, n_tables: int = 24
) -> DataFrame:
    """Sub-quadratic near-dup: random-hyperplane LSH candidate buckets +
    exact-fold verify — the 100 TB default pair generator.

    Bucket rows carry (id, normalized vector, table, bucket); one shuffle
    on (table, bucket) groups each LSH bucket, ONE numpy matmul per bucket
    scores every in-bucket pair and emits only ids with cos >=
    threshold - 1e-6 (the matmul differs from the sequential verify fold by
    ~1e-12 relative, so the margin makes the prune provably lossless — the
    same argument :func:`embedding_cosine_pairs` phase 1 uses), and the
    sparse survivors are re-scored with the exact oracle fold. Precision is
    exact and only recall is probabilistic:
    1 - (1 - p^planes)^tables with p = 1 - theta/pi.

    (The pre-r6 shape scored EVERY candidate pair with the exact JVM fold
    — a 64-step interpreted HOF per pair. On a weak-neighbor corpus nearly
    all pairs collide in some table, so that was ~n^2/2 folds; the per-
    bucket matmul does the same arithmetic at native BLAS speed and the
    fold now runs only on the O(dup) survivors. Measured 12.4 -> ~1 s at
    sf0.1.)

    Hyperplanes are md5-seeded (similarity.lsh_buckets) — deterministic
    across runs/executors, so recall on a given corpus is a
    fixed, testable number (asserted against the exact path in tests).
    """
    import numpy as np
    import pandas as pd

    from .similarity import lsh_buckets

    margin = threshold - 1e-6
    id_t = df.schema["vec_id"].dataType.simpleString()

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            b = lsh_buckets(V, n_planes, n_tables)
            ids = pdf["vec_id"].to_numpy()
            out = []
            for t in range(n_tables):
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "nv": list(Vn),
                            "tbl": t,
                            "bucket": b[:, t],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    buckets = _spread(df.select("vec_id", "embedding")).mapInPandas(
        bucketize, schema=f"vec_id {id_t}, nv array<double>, tbl int, bucket long"
    )

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        g = len(pdf)
        if g < 2:
            return pd.DataFrame({"id_a": pdf["vec_id"][:0], "id_b": pdf["vec_id"][:0]})
        Vn = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["nv"]])
        ids = pdf["vec_id"].to_numpy()
        outs = []
        # row blocks bound the similarity matrix to (block x g) per step
        for s in range(0, g, 2048):
            sims = Vn[s : s + 2048] @ Vn.T
            qa, ca = np.nonzero(sims >= margin)
            qa = qa + s
            keep = qa < ca  # upper triangle: each in-bucket pair once, no self
            if keep.any():
                lo = np.minimum(ids[qa[keep]], ids[ca[keep]])
                hi = np.maximum(ids[qa[keep]], ids[ca[keep]])
                outs.append(pd.DataFrame({"id_a": lo, "id_b": hi}))
        if not outs:
            return pd.DataFrame({"id_a": pdf["vec_id"][:0], "id_b": pdf["vec_id"][:0]})
        return pd.concat(outs, ignore_index=True)

    cands = (
        buckets.groupBy("tbl", "bucket")
        .applyInPandas(score_bucket, schema=f"id_a {id_t}, id_b {id_t}")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _exact_cosine_verify(cands, df, threshold)


def embedding_cosine_pairs_sql(threshold: float = 0.95) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE))), (a, x) -> a + x)) AS norm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
             / (a.norm * b.norm), 9) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
      / (a.norm * b.norm) >= {threshold}
"""
