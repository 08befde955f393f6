"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

All pure column expressions (JVM/codegen — the reference's Groovy
transformer escape hatch, core/.../transformer/GroovyTransformer.java:49-124,
is deliberately NOT mirrored with Python UDFs; these are the built-in
replacements). Every double output is a ratio of exact int64 counts so the
DuckDB oracle reproduces values bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import hash60, tokens

# fixed marker-word lists per language (deterministic heuristic lang-ID;
# the real thing would be fasttext/cld3 — out of scope, and the synthetic
# corpus is tagged anyway. Scoring = marker hits, argmax with 'und' floor.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "que"],
}
STOPWORDS = sorted(set(w for ws in LANG_MARKERS.values() for w in ws))


def token_stats(df: DataFrame) -> DataFrame:
    """Token count, char count, avg token length (exact-ratio double)."""
    t = tokens(F.col("text"))
    return df.select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.aggregate(t, F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias("chars_in_tokens"),
    ).withColumn(
        "avg_token_len",
        F.when(F.col("n_tokens") > 0, F.col("chars_in_tokens").cast("double") / F.col("n_tokens")).otherwise(F.lit(0.0)),
    )


def token_stats_sql() -> str:
    from ..functions.textfns import tokens_sql

    t = tokens_sql("text")
    return f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(t)::BIGINT AS n_tokens,
       coalesce(list_sum(list_transform(t, x -> length(x))), 0)::BIGINT AS chars_in_tokens,
       CASE WHEN len(t) > 0 THEN (coalesce(list_sum(list_transform(t, x -> length(x))), 0)::BIGINT)::DOUBLE / len(t) ELSE 0.0 END AS avg_token_len
FROM (SELECT doc_id, text, {t} AS t FROM documents)
"""


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality features + score.

    punct_ratio = non-alnum-non-space chars / chars;
    stopword_ratio = stopword tokens / tokens;
    score = mix of exact-int ratios (identical doubles across engines).
    """
    t = tokens(F.col("text"))
    n_chars = F.length("text").cast("long")
    n_punct = (n_chars - F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z0-9\s]", ""))).cast("long")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, F.lower(x)))).cast("long")
    n_tok = F.size(t).cast("long")
    out = df.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
    )
    punct_ratio = F.when(F.col("n_chars") > 0, F.col("n_punct").cast("double") / F.col("n_chars")).otherwise(0.0)
    stop_ratio = F.when(F.col("n_tokens") > 0, F.col("n_stopwords").cast("double") / F.col("n_tokens")).otherwise(0.0)
    return (
        out.withColumn("punct_ratio", punct_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn(
            "quality",
            (F.lit(1.0) - F.col("punct_ratio")) * F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 10000), 1.0).otherwise(0.5),
        )
    )


def quality_score_sql() -> str:
    from ..functions.textfns import tokens_sql

    t = tokens_sql("text")
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
       CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_tokens > 0 THEN n_stopwords::DOUBLE / n_tokens ELSE 0.0 END AS stopword_ratio,
       (1.0 - CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END)
         * CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.5 END AS quality
FROM (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len(t)::BIGINT AS n_tokens,
         (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::BIGINT AS n_punct,
         len(list_filter(t, x -> list_contains([{sw}], lower(x))))::BIGINT AS n_stopwords
  FROM (SELECT doc_id, text, {t} AS t FROM documents)
)
"""


def lang_id(df: DataFrame) -> DataFrame:
    """N-gram/marker-word language ID: argmax of marker hits, ties broken by
    language code order, 'und' when no markers hit."""
    t = F.transform(tokens(F.col("text")), lambda x: F.lower(x))
    hits = {}
    for lang, markers in sorted(LANG_MARKERS.items()):
        m = F.array(*[F.lit(w) for w in markers])
        hits[lang] = F.size(F.filter(t, lambda x: F.array_contains(m, x))).cast("long")
    mx = F.greatest(*hits.values())
    # argmax, ties -> alphabetically first language (same CASE order as SQL)
    pred = F.lit("und")
    for lang in sorted(hits, reverse=True):
        pred = F.when(hits[lang] == mx, F.lit(lang)).otherwise(pred)
    return df.select(
        F.col("doc_id"),
        F.when(mx > 0, pred).otherwise(F.lit("und")).alias("lang_pred"),
        mx.alias("marker_hits"),
    )


def lang_id_sql() -> str:
    from ..functions.textfns import tokens_sql

    t = tokens_sql("text")
    hit_cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in markers)
        hit_cols.append(
            f"len(list_filter(t, x -> list_contains([{lst}], x)))::BIGINT AS hits_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    mx = f"greatest({', '.join('hits_' + l for l in langs)})"
    case = " ".join(f"WHEN hits_{l} = mx THEN '{l}'" for l in langs)
    return f"""
SELECT doc_id,
       CASE WHEN mx > 0 THEN (CASE {case} END) ELSE 'und' END AS lang_pred,
       mx::BIGINT AS marker_hits
FROM (
  SELECT doc_id, {mx} AS mx, {', '.join('hits_' + l for l in langs)}
  FROM (
    SELECT doc_id, {', '.join(hit_cols)}
    FROM (SELECT doc_id, list_transform(t0, x -> lower(x)) AS t
          FROM (SELECT doc_id, {t} AS t0 FROM documents))
  )
)
"""


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: md5 of raw text, md5 of normalized text
    (lower + collapsed whitespace), and a 60-bit integer fingerprint."""
    norm = F.concat_ws(" ", tokens(F.lower(F.col("text"))))
    return df.select(
        F.col("doc_id"),
        F.md5(F.col("text")).alias("md5_raw"),
        F.md5(norm).alias("md5_norm"),
        hash60(norm).alias("fp60"),
    )


def fingerprint_sql() -> str:
    from ..functions.textfns import hash60_sql, tokens_sql

    t = tokens_sql("lower(text)")
    return f"""
SELECT doc_id,
       md5(text) AS md5_raw,
       md5(norm) AS md5_norm,
       {hash60_sql('norm')} AS fp60
FROM (SELECT doc_id, text, array_to_string({t}, ' ') AS norm FROM documents)
"""
