"""Edge-case pins for the r6 let-bound expressions (CLAUDE.md rule 19).

The let-binding rewrite (`transform(array(expr), v -> body)[0]`) must be
result-identical to the expression it replaced — the 105-query oracle
gate pins the bulk data; these tests pin the null/empty/short edges the
gate corpora never exercise, where the rewrite touches null plumbing
(array-of-null binding, array_max-vs-greatest null semantics).

The plan-shape cases pin the bindings themselves: each site's expensive
subexpression must appear ONCE in the optimized plan, outside the
per-element loops that consume it, so an optimizer rewrite that inlines
a binding fails here instead of silently costing 2-50×.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from o2g_spark.functions import text as X
from o2g_spark.operators import dedup, lsh_index, similarity
from o2g_spark.streaming import stateful


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one two"),                  # shorter than n=3
            (5, "one two three"),            # exactly one shingle
            (6, "a b c d e a b c d e"),      # duplicate shingles
            (7, "the quick brown fox and the lazy dog the end"),
        ],
        "id int, text string",
    )


def test_shingles_edges(edge_docs):
    rows = {
        r.id: r.s
        for r in edge_docs.select(
            "id", X.shingles("text", 3).alias("s")
        ).collect()
    }
    assert rows[1] is None            # null text → null array (words null)
    assert rows[2] == [] and rows[3] == []
    assert rows[4] == []              # too short → explicit empty array
    assert rows[5] == ["one two three"]
    # distinct + sorted set semantics survive the binding: 8 positions,
    # wrap-around repeats collapse to 5 distinct shingles
    assert rows[6] == ["a b c", "b c d", "c d e", "d e a", "e a b"]


def test_minhash_signature_edges(edge_docs):
    rows = {
        r.id: r.sig
        for r in edge_docs.select(
            "id", dedup.minhash_signature("text", 8).alias("sig")
        ).collect()
    }
    sentinel = 1 << 60
    # empty OR null shingle set → sentinel in every slot (the per-slot
    # coalesce fires identically through the bound array)
    assert rows[1] == [sentinel] * 8
    assert rows[2] == [sentinel] * 8 and rows[4] == [sentinel] * 8
    assert len(rows[7]) == 8 and all(s < sentinel for s in rows[7])


def test_lang_id_edges_and_ties(spark):
    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "zzz qqq xxx"),            # no stopword hits → und
            (4, "the quick brown fox"),     # en
            (5, "der hund und die katze"),  # de
            (6, "你好 世界"),                 # CJK short-circuit
        ],
        "id int, text string",
    )
    rows = {r.id: r.p for r in df.select("id", X.lang_id("text").alias("p")).collect()}
    assert rows[1] == "und" and rows[2] == "und" and rows[3] == "und"
    assert rows[4] == "en" and rows[5] == "de" and rows[6] == "zh"


def test_quality_stopword_ratio_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the the the")], "id int, text string"
    )
    feats = X.quality_features("text")
    rows = {
        r.id: (r.n_words, r.stopword_ratio)
        for r in df.select(
            "id",
            feats["n_words"].alias("n_words"),
            feats["stopword_ratio"].alias("stopword_ratio"),
        ).collect()
    }
    assert rows[1] == (None, None)
    assert rows[2] == (0, 0.0)
    assert rows[3] == (3, 1.0)


def test_quantized_embedding_zero_and_values(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -0.5, 0.25]), (3, None)],
        "id int, v array<double>",
    )
    scale, q = similarity.quantized_embedding(F.col("v"), bits=8)
    rows = {
        r.id: (r.s, r.q)
        for r in df.select("id", scale.alias("s"), q.alias("q")).collect()
    }
    assert rows[1] == (0.0, [0, 0, 0])      # zero vector → all-zero codes
    s, codes = rows[2]
    assert codes == [127, -63, 32]          # floor(x/s + .5), s = 1/127
    assert abs(s - 1.0 / 127.0) < 1e-15
    assert rows[3] == (None, None)


def _lambda_depths(df, node: str) -> list[int]:
    """For every ``node`` expression (Catalyst class name) in the
    optimized plan, how many HOF lambda bodies enclose it — a node at
    depth d is re-evaluated per element of d nested loops, except where
    the loop runs over a one-element let-binding array."""
    out = []

    def walk(e, depth):
        name = e.nodeName()
        if name == node:
            out.append(depth)
        kids = e.children()
        for i in range(kids.size()):  # child 0 of a lambda is its body
            walk(kids.apply(i), depth + (name == "LambdaFunction" and i == 0))

    def plans(p):
        yield p
        for i in range(p.children().size()):
            yield from plans(p.children().apply(i))

    for p in plans(df._jdf.queryExecution().optimizedPlan()):
        exprs = p.expressions()
        for j in range(exprs.size()):
            walk(exprs.apply(j), 0)
    return sorted(out)


def _shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    return df.select(X.shingles("text", 3))


def _lang_id(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    return df.select(X.lang_id("text"))


def _lsh_bands(spark):
    sh = spark.createDataFrame([(1, ["a b c"])], "did long, sh array<string>")
    return lsh_index._band_rows(sh, {"num_hashes": 8, "bands": 4})


def _stream_bands(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    return stateful._banded_docs(df, "id", "text", None, 8, 4)


def _q8(spark):
    df = spark.createDataFrame([(1, [1.0, -0.5])], "id int, v array<double>")
    return df.select(similarity.quantized_embedding(F.col("v"), bits=8)[1])


@pytest.mark.parametrize("build, node, depths", [
    # the words pass (regex) once per row, not per shingle position
    (_shingles, "RegExpReplace", [0]),
    # lang_id: words once per row; the score max once, not per WHEN
    # branch (depth 1 = inside the one-element score binding)
    (_lang_id, "RegExpReplace", [0]),
    (_lang_id, "ArrayMax", [1]),
    # lsh banding: the signature's per-shingle md5 (depth 1) stays
    # outside the per-band lambda, whose own key md5 is depth 2
    (_lsh_bands, "Md5", [1, 2]),
    # stream banding: the index's key function, so the same depths
    (_stream_bands, "Md5", [1, 2]),
    # q8: the O(dim) absmax once per row, not per element
    (_q8, "ArrayMax", [0]),
], ids=["shingles", "lang_id_words", "lang_id_max", "lsh_banding",
         "stream_banding", "q8"])
def test_let_binding_plan_shape(spark, build, node, depths):
    assert _lambda_depths(build(spark), node) == depths
