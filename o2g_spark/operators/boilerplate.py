"""Corpus-frequency boilerplate removal (CCNet-style line dedup):
strip lines that recur across many documents — cookie banners, nav
bars, subscribe prompts — while preserving each document's remaining
line order exactly.

Shape: explode (doc, pos, line), count per-line DOCUMENT frequency
(within-doc repeats count once), anti-join the hot set, reassemble
with an order-preserving struct sort. The hot set is tiny by
construction — at df ≥ min_df its cardinality is bounded by
(corpus line count)/min_df — so the anti-join broadcasts and the
corpus side never shuffles for it; the only wide exchange is the df
count itself (8-byte line-hash keys) and the per-doc regroup.

Exactness: candidate keys are 60-bit md5 hashes but the hot set
carries the line STRINGS and the anti-join matches (hash, line), so a
hash collision can never remove an innocent line. Every step is
integer/string column math with a full DuckDB twin.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as X

LINE_SEP = "\n"


def _lines(docs: DataFrame, id_col: str, text_col: str, sep: str) -> DataFrame:
    """(id, __nl, __pos, __line) — split materialized via withColumn
    BEFORE posexplode (CLAUDE.md rule 1); ``sep`` is a literal string
    (regex-escaped for Spark's regex-based split)."""
    return (
        docs.withColumn("__ls", F.split(F.col(text_col), re.escape(sep)))
        .withColumn("__nl", F.size("__ls").cast(T.LongType()))
        .select(id_col, "__nl", F.posexplode("__ls").alias("__pos", "__line"))
    )


def line_stats(
    docs: DataFrame, id_col: str, text_col: str, sep: str = LINE_SEP
) -> DataFrame:
    """Per-distinct-line document frequency: ``(line, line_df)`` —
    the observability hook for choosing ``min_df``/``min_frac``."""
    return (
        _lines(docs, id_col, text_col, sep)
        .select(id_col, F.col("__line").alias("line"))
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).cast(T.LongType()).alias("line_df"))
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int | None = None,
    min_frac: float | None = None,
    sep: str = LINE_SEP,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Remove lines whose document frequency reaches the threshold;
    rebuild each doc's text from the surviving lines in original
    order. Exactly one of ``min_df`` (absolute) / ``min_frac``
    (fraction of docs — scale-portable: the same 0.6 means "in ≥60%
    of documents" at any corpus size; costs one eager count job) must
    be given.

    Output: ``(id_col, text_col, n_kept, n_removed)`` — one row per
    input doc; a doc whose every line was boilerplate keeps an empty
    string. ``broadcast_hot=False`` opts out of the broadcast pin for
    pathological thresholds (min_df so low the "hot" set is half the
    corpus — at that point this is the wrong operator anyway).
    """
    if (min_df is None) == (min_frac is None):
        raise ValueError("pass exactly one of min_df / min_frac")
    if min_frac is not None:
        if not (0.0 < min_frac <= 1.0):
            raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
        min_df = max(1, math.ceil(min_frac * docs.count()))

    lines = _lines(docs, id_col, text_col, sep)
    hot = (
        lines.select(
            id_col,
            X.md5_hash60("__line").alias("__h"),
            "__line",
        )
        .distinct()
        .groupBy("__h", "__line")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__h", "__line")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = lines.withColumn("__h", X.md5_hash60("__line")).join(
        hot, ["__h", "__line"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
        ).alias("__text"),
        F.count(F.lit(1)).cast(T.LongType()).alias("n_kept"),
    )
    base = docs.select(
        id_col, F.size(F.split(F.col(text_col), re.escape(sep)))
        .cast(T.LongType()).alias("__nl0")
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("__text", F.lit("")).alias(text_col),
            F.coalesce("n_kept", F.lit(0).cast(T.LongType())).alias("n_kept"),
            (F.col("__nl0") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def _lines_sql(docs_query: str, id_col: str, text_col: str, sep_sql: str) -> str:
    return f"""
SELECT {id_col}, CAST(len(__ls) AS BIGINT) AS __nl,
       unnest(range(1, len(__ls) + 1)) AS __pos,
       unnest(__ls) AS __line
FROM (SELECT {id_col}, string_split({text_col}, {sep_sql}) AS __ls
      FROM ({docs_query}))
"""


def strip_boilerplate_sql(
    docs_query: str,
    id_col: str,
    text_col: str,
    min_df_sql: str,
    sep_sql: str = "chr(10)",
) -> str:
    """DuckDB twin of :func:`strip_boilerplate`. ``min_df_sql`` is a
    SQL expression — pass a literal for min_df, or e.g.
    ``greatest(1, CAST(ceil(0.6 * (SELECT count(*) FROM d)) AS BIGINT))``
    for the min_frac form (the twin builders below compose it)."""
    return f"""
WITH d AS ({docs_query}),
lines AS ({_lines_sql("SELECT * FROM d", id_col, text_col, sep_sql)}),
hot AS (
  SELECT __line FROM (SELECT DISTINCT {id_col}, __line FROM lines)
  GROUP BY __line HAVING count(*) >= ({min_df_sql})
),
kept AS (
  SELECT * FROM lines WHERE __line NOT IN (SELECT __line FROM hot)
),
rebuilt AS (
  SELECT {id_col},
         array_to_string(list_transform(
             list_sort(list({{'p': __pos, 'l': __line}})), x -> x.l),
             {sep_sql}) AS __text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY {id_col}
)
SELECT d.{id_col},
       coalesce(r.__text, '') AS {text_col},
       coalesce(r.n_kept, 0) AS n_kept,
       CAST(len(string_split(d.{text_col}, {sep_sql})) AS BIGINT)
           - coalesce(r.n_kept, 0) AS n_removed
FROM d LEFT JOIN rebuilt r USING ({id_col})
"""


def min_frac_df_sql(docs_query: str, min_frac: float) -> str:
    """The ``min_df_sql`` expression matching ``min_frac`` semantics:
    ceil(frac × corpus size), floored at 1 — mirrors the Spark path's
    eager count bit-for-bit (both engines ceil the same double)."""
    return (
        f"greatest(1, CAST(ceil({min_frac!r} * "
        f"(SELECT count(*) FROM ({docs_query}))) AS BIGINT))"
    )
