"""Benchmark decontamination: remove training documents that overlap
an evaluation/benchmark set (driver brief: training-data pipeline ops
are first-class alongside SURVEY.md §2).

The standard recipe (GPT-3 appendix C / PaLM / Llama): a training doc
is *contaminated* when it shares at least one word n-gram (n ≈ 13 for
prose; tune down for short fields) with any benchmark item. Benchmark
suites are tiny next to a 100-TB corpus, so the whole benchmark n-gram
set fits in a broadcast hash map — the corpus-side scan never
shuffles: each doc's shingle hashes stream through the broadcast
probe, and only the (rare) hits reach the aggregation.

Mechanics reuse the dedup family's shared machinery
(functions/text.py): shingles are distinct word n-grams, hashed once
to 60-bit md5 integers (cross-engine exact), so the probe compares
8-byte longs, never n-gram strings. Every output column is integer
math plus one final rounded division — a full DuckDB value-hash twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as X
from .dedup import shingle_hashes


def benchmark_ngrams(
    bench: DataFrame, text_col: str, n: int = 13
) -> DataFrame:
    """Distinct 60-bit n-gram hashes over the benchmark set: one
    column ``__h``. Materialize the hash array via ``withColumn``
    BEFORE exploding (CLAUDE.md rule 1: GenerateExec evaluates
    generator expressions interpreted, re-running the regex+md5 chain
    per emitted row otherwise)."""
    return (
        bench.withColumn("__hs", shingle_hashes(text_col, n))
        .select(F.explode("__hs").alias("__h"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap report.

    Output: ``(id_col, matched_ngrams, doc_ngrams, contamination_ratio)``
    for every doc sharing ≥1 n-gram with the benchmark —
    ``matched_ngrams`` counts the doc's DISTINCT shingles that appear
    anywhere in the benchmark (shingle sets are already distinct, so a
    plain count after the join is the distinct count); the ratio is
    one integer/integer division rounded once at 6dp (cross-engine
    halfway safety, CLAUDE.md).

    ``broadcast_bench=True`` (default) pins a broadcast hash join —
    right for real eval suites (at 13-gram granularity even a
    million-item benchmark is ~10⁸ longs ≈ 1 GB, the documented upper
    bound; past that pass ``False`` and let AQE pick a shuffle join).
    """
    bench_text_col = bench_text_col or text_col
    bg = benchmark_ngrams(bench, bench_text_col, n)
    if broadcast_bench:
        bg = F.broadcast(bg)
    grams = (
        docs.withColumn("__hs", shingle_hashes(text_col, n))
        .withColumn("__total", F.size("__hs").cast(T.LongType()))
        .select(id_col, "__total", F.explode("__hs").alias("__h"))
    )
    hits = grams.join(bg, "__h")
    return (
        hits.groupBy(id_col, "__total")
        .agg(F.count(F.lit(1)).cast(T.LongType()).alias("matched_ngrams"))
        .select(
            id_col,
            "matched_ngrams",
            F.col("__total").alias("doc_ngrams"),
            F.round(
                F.col("matched_ngrams") / F.greatest("__total", F.lit(1)), 6
            ).alias("contamination_ratio"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
    min_matched: int = 1,
) -> DataFrame:
    """The corpus minus contaminated docs (≥ ``min_matched`` shared
    n-grams) — a left-anti join against :func:`contamination_report`'s
    id set, preserving the input schema. The report side is the only
    shuffle (tiny: contaminated ids), the corpus side streams."""
    bad = contamination_report(
        docs, bench, id_col, text_col, n, bench_text_col, broadcast_bench
    ).where(F.col("matched_ngrams") >= min_matched).select(id_col)
    return docs.join(bad, id_col, "left_anti")


def benchmark_ngrams_sql(bench_query: str, text_col: str, n: int) -> str:
    """DuckDB twin of :func:`benchmark_ngrams` as a derived-table
    expression (``bench_query`` is a full SELECT over the benchmark)."""
    h = X.md5_hash60_sql("s")
    return (
        f"SELECT DISTINCT unnest(list_transform("
        f"{X.shingles_sql(text_col, n)}, s -> {h})) AS __h "
        f"FROM ({bench_query})"
    )


def contamination_report_sql(
    docs_query: str,
    bench_query: str,
    id_col: str,
    text_col: str,
    n: int,
    bench_text_col: str | None = None,
) -> str:
    """Full DuckDB twin of :func:`contamination_report` (same column
    names and rounding; DuckDB lambdas are 1-based but no index is
    used here)."""
    bg = benchmark_ngrams_sql(bench_query, bench_text_col or text_col, n)
    h = X.md5_hash60_sql("s")
    hs = f"list_transform({X.shingles_sql(text_col, n)}, s -> {h})"
    return f"""
WITH bg AS ({bg}),
dg AS (
  SELECT {id_col}, CAST(len({hs}) AS BIGINT) AS __total,
         unnest({hs}) AS __h
  FROM ({docs_query})
)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS matched_ngrams,
       __total AS doc_ngrams,
       round(count(*) / greatest(__total, 1), 6) AS contamination_ratio
FROM dg JOIN bg USING (__h)
GROUP BY {id_col}, __total
"""
