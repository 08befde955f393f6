"""Portable text column expressions with exact DuckDB SQL twins.

Every helper returns (spark_column, sql_string_template) semantics kept in
sync: the Spark expression and the SQL fragment compute identical values, so
driver oracles and engine queries can share definitions. Hashing is
md5-based (both engines agree on md5 hex) — a 60-bit integer is taken from
the first 15 hex chars. xxhash64 would be faster Spark-side but has no
DuckDB twin, so md5 is the one hash (a documented trade-off: portability to
the oracle over raw hashing speed).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: words per shingle (the MinHash/Jaccard unit is a word 3-gram)
SHINGLE_N = 3


def tokens(c: Column) -> Column:
    """Whitespace tokens, empties removed (empty string -> [])."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex(trim({expr}), '\\s+'), x -> x <> '')"


def hash60(c: Column) -> Column:
    """Deterministic 60-bit positive int from md5 (portable across engines)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def word_shingles(c: Column) -> Column:
    """Distinct word SHINGLE_N-gram shingles (the MinHash/Jaccard unit).

    The token list is bound ONCE as a higher-order-function lambda variable
    (``transform(array(tokens(c)), w -> ...)[1]``): referencing a plain
    projected column instead gets re-inlined by CollapseProject, so every
    ``element_at`` would re-run the regex split — O(tokens * SHINGLE_N) splits per
    row, measured 15x slower on the sf0.1 documents corpus.
    """

    def per_words(wv: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(wv) - (SHINGLE_N - 1), F.lit(0)))
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(wv, i + j) for j in range(SHINGLE_N)]
        )
        return F.array_distinct(F.transform(idx, gram))

    return F.element_at(F.transform(F.array(tokens(c)), per_words), 1)


def shingles_expr_sql(words_expr: str) -> str:
    """SQL twin of :func:`word_shingles` over a bound words-list column."""
    parts = " || ' ' || ".join(
        f"{words_expr}[i+{j}]" if j else f"{words_expr}[i]" for j in range(SHINGLE_N)
    )
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({words_expr}) - {SHINGLE_N - 1}, 0)), i -> {parts}))"
    )
